package pipebench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline
import graft.store.TableStore

/** Self-tests of the benchmark's generator, truth and tracing. A tiny
  * export of 96 readings a day (one per 15 min) keeps them fast. */
class PipebenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("pipebench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val dev = "DEV01"
  val perDay = 96
  val sixHours: Long = 6L * 3600 * 1000

  def tmp(): Path = Files.createTempDirectory("pipebench")

  def contents(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def exportOf(seed: Long): ExportGen = {
    val g = new ExportGen(tmp(), seed, perDay, naShare = 0.1)
    (0 until 3).foreach(_ => g.addDay())
    g.revise(g.dayEndMillis(1) - sixHours, g.dayEndMillis(1), 0.25, salt = 1)
    g
  }

  test("the same seed writes byte-identical exports; another seed does not") {
    val a = contents(exportOf(7).dir)
    assert(a.keySet == Set("2024-01-01.json", "2024-01-02.json", "2024-01-03.json"))
    assert(a == contents(exportOf(7).dir))
    assert(a != contents(exportOf(8).dir))
  }

  test("a tiny revise-and-lag cycle yields the expected I/U/NC counts") {
    val g = new ExportGen(tmp(), 3, perDay, naShare = 0.1)
    val pipe = new Pipeline(spark, new TableStore(spark, tmp().toString))
    g.addDay(); g.addDay()
    val now1 = g.dayEndMillis(1) - sixHours
    assert(g.expect(None) == Expect(ingested = 192, i = 192, u = 0, nc = 0))
    val r1 = pipe.run(g.dir.toString, dev, new Timestamp(now1))
    assert((r1.ingested, r1.inserted) == (192L, 192L))
    g.commit(None, now1)

    // the next run re-ingests the 6 h overlap (24 readings), a quarter of
    // which the device revised, plus the 96 readings of the new day
    g.addDay()
    assert(g.revise(now1, g.dayEndMillis(1), 0.25, salt = 2) == 6)
    val now2 = g.dayEndMillis(2) - sixHours
    assert(g.expect(Some(now1)) == Expect(ingested = 120, i = 96, u = 6, nc = 18))
    val r2 = pipe.run(g.dir.toString, dev, new Timestamp(now2))
    assert((r2.ingested, r2.inserted) == (120L, 102L))
    g.commit(Some(now1), now2)
    assert(g.currentRows == 288 && g.closedRows == 6)
  }

  test("a traced run's segments tile its wall time, in pipeline order") {
    val g = new ExportGen(tmp(), 5, perDay)
    g.addDay()
    val tracer = new Tracer(spark.sparkContext)
    val store = new TracedStore(spark, tmp().toString, tracer)
    val pipe = new TracedPipeline(spark, store, tracer)
    val t0 = tracer.begin("run0")
    val res = try pipe.run(g.dir.toString, dev, new Timestamp(g.dayEndMillis(0)))
      finally tracer.end()
    assert(res.ingested == perDay)
    val spans = tracer.spans.toSeq
    assert(spans.head.startNs == t0)
    assert(spans.zip(spans.tail).forall { case (a, b) => a.endNs == b.startNs })
    assert(spans.map(s => s.endNs - s.startNs).sum == spans.last.endNs - t0)
    assert(spans.map(_.segment) == Seq("control", "ingest", "store.landing", "control",
      "stage", "control", "scd2", "store.target", "control"))
    assert(store.takeControlCalls() > 0)
  }
}
