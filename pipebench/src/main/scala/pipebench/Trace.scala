package pipebench

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.Pipeline
import graft.store.TableStore

/** One contiguous stretch of a traced unit spent in one segment. A unit is
  * one pipeline run or one probe batch; its spans tile its wall time. */
final case class Span(unit: String, segment: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. A segment opens at a call into a layer and
  * lasts until the next such call, so the segments of a unit cover it with
  * no gaps. The active `unit/segment` is set as a Spark local property,
  * which the scheduler copies onto every job and stage submitted while it
  * is active; [[SegmentListener]] attributes task metrics by it. */
final class Tracer(sc: SparkContext) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var unit: String = null
  private var segment: String = null
  private var segStart = 0L

  def active: Boolean = unit != null

  /** Open `unitId`; time up to its first segment belongs to that segment. */
  def begin(unitId: String): Long = {
    unit = unitId
    segment = null
    segStart = System.nanoTime()
    segStart
  }

  def enter(seg: String): Unit = if (active && seg != segment) {
    val now = System.nanoTime()
    if (segment != null) {
      spans += Span(unit, segment, segStart, now)
      segStart = now
    }
    segment = seg
    sc.setLocalProperty(Tracer.Property, s"$unit/$seg")
  }

  /** Close the unit; returns the end instant. */
  def end(): Long = {
    val now = System.nanoTime()
    if (segment != null) spans += Span(unit, segment, segStart, now)
    unit = null
    segment = null
    sc.setLocalProperty(Tracer.Property, null)
    now
  }
}

object Tracer {
  val Property = "pipebench.span"
}

/** Work counters of the Spark jobs tagged with one `unit/segment`. */
final class Counters {
  var jobs, tasks = 0L
  var busyMs, inputBytes, inputRecords, shuffleWriteBytes = 0L
  var outputBytes, outputRecords, spillBytes = 0L
}

/** Attributes jobs and task metrics to the span that was active when they
  * were submitted. Events arrive on the listener bus thread; [[drain]]
  * waits until every event posted before it has been seen. */
final class SegmentListener extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, Counters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private var drainJob = -1
  @volatile private var drained = false

  private def keyOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Tracer.Property)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties) match {
      case null =>
      case SegmentListener.DrainKey => drainJob = e.jobId
      case k => byKey.getOrElseUpdate(k, new Counters).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == drainJob) drained = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val k = keyOf(e.properties)
    if (k != null && k != SegmentListener.DrainKey) stageKey(e.stageInfo.stageId) = k
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = byKey.getOrElseUpdate(k, new Counters)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run a one-task sentinel job and wait until its end event arrives:
    * the bus delivers in order, so every earlier event has been seen. */
  def drain(sc: SparkContext): Unit = {
    drained = false
    sc.setLocalProperty(Tracer.Property, SegmentListener.DrainKey)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Property, null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!drained) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
  }

  def counters: Map[String, Counters] = synchronized(byKey.toMap)
}

object SegmentListener {
  val DrainKey = "drain"
}

/** The pipeline's store, seen through the tracer: each outermost call
  * switches the segment by the table it touches and whether it writes,
  * and calls on the control tables are counted per unit. */
final class TracedStore(spark: SparkSession, baseDir: String, tracer: Tracer)
    extends TableStore(spark, baseDir) {
  private var depth = 0
  private var unitCalls = 0L

  def takeControlCalls(): Long = { val n = unitCalls; unitCalls = 0; n }

  private def at[T](name: String, write: Boolean)(body: => T): T = {
    depth += 1
    try {
      if (depth == 1 && tracer.active) {
        val seg = TracedStore.segment(name, write)
        if (seg == "control") unitCalls += 1
        tracer.enter(seg)
      }
      body
    } finally depth -= 1
  }

  override def exists(name: String): Boolean = at(name, write = false)(super.exists(name))
  override def read(name: String): DataFrame = at(name, write = false)(super.read(name))
  override def readOrEmpty(name: String, schema: StructType): DataFrame =
    at(name, write = false)(super.readOrEmpty(name, schema))
  override def overwrite(name: String, df: DataFrame): Unit =
    at(name, write = true)(super.overwrite(name, df))
  override def append(name: String, df: DataFrame): Unit =
    at(name, write = true)(super.append(name, df))
  override def appendPartitioned(name: String, df: DataFrame, cols: Seq[String]): Unit =
    at(name, write = true)(super.appendPartitioned(name, df, cols))
  override def overwritePartitionsDynamic(name: String, df: DataFrame, cols: Seq[String]): Unit =
    at(name, write = true)(super.overwritePartitionsDynamic(name, df, cols))
  override def deletePartition(name: String, col: String, value: String): Unit =
    at(name, write = true)(super.deletePartition(name, col, value))
  override def deleteWhere(name: String, schema: StructType, cond: Column): Unit =
    at(name, write = true)(super.deleteWhere(name, schema, cond))
}

object TracedStore {
  /** Segment a store call belongs to. The landing table is written by
    * the landing step and read by staging; INT is written by staging and
    * read by the SCD2 step, which also reads the target. */
  def segment(table: String, write: Boolean): String = table match {
    case "data_control_table" | "hist_load_control" | "interface_config" => "control"
    case "dht11_data" => if (write) "store.landing" else "stage"
    case "dht11_data_int" => if (write) "stage" else "scd2"
    case "hist_dht11_data" => if (write) "store.target" else "scd2"
    case other => sys.error(s"store call on a table the trace does not know: $other")
  }
}

/** The pipeline with its ingest step opening the `ingest` segment. */
final class TracedPipeline(spark: SparkSession, store: TracedStore, tracer: Tracer)
    extends Pipeline(spark, store) {
  override protected def ingestDelta(treePath: String, deviceId: String,
      prevStart: Timestamp): DataFrame = {
    tracer.enter("ingest")
    super.ingestDelta(treePath, deviceId, prevStart)
  }
}
