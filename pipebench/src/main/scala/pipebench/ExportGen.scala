package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded synthetic DHT11 export for one device, with its own truth.
  *
  * The export has the reference's Firebase shape, `{date: {time: record}}`,
  * written as one JSON file per date key under `dir`; the pipeline only
  * ever receives that directory. One reading every `stepSeconds` seconds;
  * each leaf carries IST as its time zone label and a `Timestamp` string
  * the pipeline parses in the session time zone (UTC), so reading `i`
  * stands at `startMillis + i * stepSeconds * 1000`.
  *
  * The truth is a reference model of the SCD2 target: it replays each run
  * against the export the way the pipeline's contract says it must
  * (keep leaves at or after the previous run's start, classify against
  * the current version by the separator-less payload concat, close U
  * versions at the run instant) and so predicts every run's ingested and
  * I/U/NC counts and the version valid at any instant.
  */
final class ExportGen(val dir: Path, seed: Long,
    val perDay: Int = 2880, naShare: Double = 0.01) {
  require(86400 % perDay == 0, s"perDay must divide a day: $perDay")
  val stepSeconds: Int = 86400 / perDay
  val startMillis: Long = ExportGen.start.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
  private val dayMillis = 86400L * 1000L

  /** Current export payload per reading: humidity, temperature (null when
    * the leaf omits the field). */
  private val hum = ArrayBuffer.empty[String]
  private val temp = ArrayBuffer.empty[String]
  /** Stored versions per reading, oldest first. */
  private val versions = ArrayBuffer.empty[ArrayBuffer[Version]]

  private var closedTotal = 0L
  private var runs = Vector.empty[Long]

  Files.createDirectories(dir)

  def days: Int = hum.size / perDay
  def leaves: Long = hum.size.toLong
  def tsMillis(i: Int): Long = startMillis + i.toLong * stepSeconds * 1000L
  def dayEndMillis(day: Int): Long = startMillis + (day + 1) * dayMillis
  /** Instants of the runs committed so far. */
  def runInstants: Vector[Long] = runs
  /** Rows the target should hold as current, and as closed. */
  def currentRows: Long = versions.count(_.nonEmpty).toLong
  def closedRows: Long = closedTotal

  /** Forget every stored version: the next run starts on an empty store. */
  def resetTruth(): Unit = {
    versions.foreach(_.clear())
    closedTotal = 0
    runs = Vector.empty
  }

  /** Append day `days` to the export and write its file. */
  def addDay(): Unit = {
    val day = days
    val r = new Random(seed * 1000003L + day)
    var s = 0
    while (s < perDay) {
      hum += (if (r.nextDouble() < naShare) null else ExportGen.decimal(40 + r.nextInt(400) / 10.0))
      temp += (if (r.nextDouble() < naShare) null else ExportGen.decimal(18 + r.nextInt(170) / 10.0))
      versions += ArrayBuffer.empty[Version]
      s += 1
    }
    writeDay(day)
  }

  /** The device rewrites `share` of the readings in `[fromMillis, toMillis)`
    * with revised payloads (a changed temperature), rewriting the date
    * files that hold them. Returns how many readings were revised. */
  def revise(fromMillis: Long, toMillis: Long, share: Double, salt: Long): Int = {
    val lo = math.max(0L, math.ceil((fromMillis - startMillis) / (stepSeconds * 1000.0)).toLong).toInt
    val hi = math.min(leaves, math.ceil((toMillis - startMillis) / (stepSeconds * 1000.0)).toLong).toInt
    if (hi <= lo) return 0
    val r = new Random(seed * 7919L + salt)
    val picked = r.shuffle((lo until hi).toVector).take(math.round((hi - lo) * share).toInt)
    picked.foreach { i =>
      val t = Option(temp(i)).map(_.toDouble).getOrElse(25.0)
      temp(i) = ExportGen.decimal(t + 0.5 + r.nextInt(30) / 10.0)
    }
    picked.map(_ / perDay).distinct.foreach(writeDay)
    picked.size
  }

  /** Expected outcome of the next run, after a run that started at
    * `prevMillis` (None for the first run). */
  def expect(prevMillis: Option[Long]): Expect = {
    val from = prevMillis.getOrElse(Long.MinValue)
    var i = firstAtOrAfter(from)
    var ins, upd, nc = 0L
    val n = hum.size
    val start = i
    while (i < n) {
      val v = versions(i)
      if (v.isEmpty) ins += 1
      else if (v.last.payload != payload(i)) upd += 1
      else nc += 1
      i += 1
    }
    Expect(ingested = (n - start).toLong, i = ins, u = upd, nc = nc)
  }

  /** Apply the expected run to the truth: I rows get a first version, U
    * rows close the current version and open a new one, both at `nowMillis`. */
  def commit(prevMillis: Option[Long], nowMillis: Long): Unit = {
    var i = firstAtOrAfter(prevMillis.getOrElse(Long.MinValue))
    while (i < hum.size) {
      val v = versions(i)
      val p = payload(i)
      if (v.isEmpty || v.last.payload != p) {
        if (v.nonEmpty) closedTotal += 1
        v += Version(p, hum(i), temp(i), nowMillis)
      }
      i += 1
    }
    runs :+= nowMillis
  }

  /** Version of reading `i` valid at `asOfMillis`, if any: versions are
    * valid from their run instant until the next version's. */
  def versionAt(i: Int, asOfMillis: Long): Option[Version] =
    versions(i).takeWhile(_.fromMillis <= asOfMillis).lastOption

  /** The separator-less concat the delta hash is taken over, with the
    * landing's 'N/A' default for a missing field. */
  private def payload(i: Int): String =
    Option(hum(i)).getOrElse("N/A") + Option(temp(i)).getOrElse("N/A")

  private def firstAtOrAfter(millis: Long): Int =
    if (millis <= startMillis) 0
    else math.min(hum.size.toLong,
      math.ceil((millis - startMillis) / (stepSeconds * 1000.0)).toLong).toInt

  private def writeDay(day: Int): Unit = {
    val date = ExportGen.start.plusDays(day).toString
    val sb = new StringBuilder(perDay * 110)
    sb.append("{\"").append(date).append("\": {")
    var s = 0
    while (s < perDay) {
      val i = day * perDay + s
      val ts = Instant.ofEpochMilli(tsMillis(i)).atOffset(ZoneOffset.UTC)
      if (s > 0) sb.append(',')
      sb.append("\n  \"").append(ExportGen.timeKey.format(ts)).append("\": {\"TimeZone\": \"IST\"")
      if (hum(i) != null) sb.append(", \"Humidity\": \"").append(hum(i)).append('"')
      if (temp(i) != null) sb.append(", \"Temperature\": \"").append(temp(i)).append('"')
      sb.append(", \"Timestamp\": \"").append(ExportGen.stamp.format(ts)).append("\"}")
      s += 1
    }
    sb.append("\n}}\n")
    Files.write(dir.resolve(s"$date.json"), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

final case class Version(payload: String, hum: String, temp: String, fromMillis: Long)

/** Expected counts of one run: leaves kept by the watermark, and their
  * SCD2 classification. The pipeline's `inserted` is I + U. */
final case class Expect(ingested: Long, i: Long, u: Long, nc: Long) {
  def inserted: Long = i + u
}

object ExportGen {
  val start: LocalDate = LocalDate.of(2024, 1, 1)
  val timeKey: DateTimeFormatter = DateTimeFormatter.ofPattern("HH:mm:ss")
  val stamp: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def decimal(x: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, x)
}
