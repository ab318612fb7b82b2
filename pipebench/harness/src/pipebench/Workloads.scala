package pipebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.ops.Incremental
import graft.pipelines.Iot
import graft.sources.Sinks

/** One call into the program. `build` is the public call that returns a
  * DataFrame (including any eager work it runs); `exec` completes it
  * through the noop sink or a sink commit. Each phase is tagged with the
  * module of the public function it calls.
  */
final case class Step(name: String, buildLayer: String, execLayer: String,
                      inputRows: Long, build: () => DataFrame,
                      exec: DataFrame => Unit)

/** A workload pass is a sequence of units (a catalog step, or one
  * increment of several steps) submitted one after another.
  */
trait Workload {
  /** Empty the sink directories before a pass. */
  def reset(): Unit = ()
  /** The units of one pass; `check` writes catalog outputs for the oracle. */
  def units(check: Boolean): Seq[Seq[Step]]
  /** Sink root whose writes are counted, if the workload writes sinks. */
  def sinkRoot: Option[File] = None
  /** Bytes of the increment inputs one pass reads (write amplification). */
  def inputBytes: Long = 0L
  /** In-JVM output checks of the last timed pass: (check name, mismatch). */
  def verify(): Seq[(String, Option[String])] = Nil
}

object Workloads {
  /** Catalog steps of each catalog workload: name prefix → (module of the
    * public function the entry calls, input tables it reads).
    */
  val reference: Seq[(String, String, Seq[String])] = Seq(
    ("q01", "pipelines", Seq("events")),
    ("q02", "pipelines", Seq("events")),
    ("q03", "pipelines", Seq("events")),
    ("q04", "pipelines", Seq("events")),
    ("q27", "pipelines", Seq("events")),
    ("q33", "pipelines", Seq("events")),
    ("q28", "pipelines", Seq("events")),
    ("q29", "pipelines", Seq("orders")),
    ("q06", "ops", Seq("events")),
    ("q07", "ops", Seq("orders")),
    ("q05", "ops", Seq("events")),
    ("q08", "ops", Seq("events")),
    ("q12", "ops", Seq("events")),
    ("q13", "ops", Seq("part")))

  val curation: Seq[(String, String, Seq[String])] = Seq(
    ("x01", "ops", Seq("documents")),
    ("x03p", "neardup", Seq("documents")),
    ("x22", "neardup", Seq("documents")),
    ("x53", "sim", Seq("documents")),
    ("x86", "text", Seq("documents")))

  def catalogKey(prefix: String): String =
    SparkEntry.queries.keys.find(_.startsWith(prefix + "_"))
      .getOrElse(sys.error(s"no catalog entry named $prefix"))

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}

/** Catalog entries run through the noop sink; the check pass writes each
  * output as parquet for the DuckDB oracle compare.
  */
final class CatalogWorkload(spark: SparkSession, input: String, out: String,
                            steps: Seq[(String, String, Seq[String])],
                            rows: Map[String, Long]) extends Workload {
  val keys: Seq[String] = steps.map(s => Workloads.catalogKey(s._1))

  /** Oracle SQL of the steps that have one (the rest are rows-only). */
  def oracleSql: Map[String, String] =
    keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap

  def units(check: Boolean): Seq[Seq[Step]] =
    steps.zip(keys).map { case ((_, layer, tables), key) =>
      val exec: DataFrame => Unit =
        if (check) df => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$key")
        else Workloads.noop
      Seq(Step(key, layer, layer, tables.map(rows.getOrElse(_, 0L)).sum,
        () => SparkEntry.queries(key)(spark, input), exec))
    }
}

/** HW-4's last-N-days pipeline replayed one increment per generated day:
  * raw insert-if-absent, clean upsert, last-7-days daily average with a
  * dynamic partition overwrite, and the top-5 mart refresh.
  */
final class IncrementalWorkload(spark: SparkSession, input: String,
                                sinks: File, days: Int,
                                incRows: Map[String, Long]) extends Workload {
  private val incDir = s"$input/increments"
  private def inc(d: Int): String = f"d$d%02d"
  private def sink(t: String): String = s"${sinks.getPath}/$t.parquet"
  private val window = 7

  override def sinkRoot: Option[File] = Some(sinks)

  override def inputBytes: Long = (1 to days).iterator
    .map(d => Dirs.files(new File(s"$incDir/${inc(d)}.parquet")).map(_.length).sum).sum

  override def reset(): Unit = {
    Dirs.delete(sinks)
    sinks.mkdirs()
  }

  def units(check: Boolean): Seq[Seq[Step]] = (1 to days).map { d =>
    val rows = incRows.getOrElse(inc(d), 0L)
    def increment() = Tables.table(spark, incDir, inc(d))
    def clean() = Tables.table(spark, sinks.getPath, "clean")
    Seq(
      Step(s"${inc(d)}/raw", "sources", "sources", rows, () => increment(),
        df => Sinks.appendIfAbsent(df, sink("raw"), Seq("event_id"))),
      Step(s"${inc(d)}/clean", "sources", "sources", rows, () => increment(),
        df => Sinks.upsertReload(df, sink("clean"), Seq("event_id"))),
      Step(s"${inc(d)}/daily", "ops", "sources", 0L,
        () => Incremental.incrementalDailyAvg(clean(), window),
        df => Sinks.overwriteWindow(df, sink("daily"), "day")),
      Step(s"${inc(d)}/mart", "pipelines", "sources", 0L,
        () => Iot.top5Hot(clean()),
        df => Sinks.truncateReload(df, sink("mart"))))
  }

  /** The q45/q47 identity: the incrementally maintained sinks equal a
    * one-shot recompute over the whole generated span from the same
    * public operators. Sinks are compared as multisets of rows, by row
    * count and the sum of per-row hashes.
    */
  override def verify(): Seq[(String, Option[String])] = {
    val month = Tables.events(spark, input)
    val corrections = (1 to days).map { d =>
      Tables.table(spark, incDir, inc(d))
        .filter(to_date(col("ts")) < date_add(lit("2024-01-01").cast("date"), d - 1))
    }.reduce(_ unionByName _)
    val clean = Incremental.upsertByKey(month, corrections, Seq("event_id")).cache()
    val expected = Seq(
      "raw" -> month,
      "clean" -> clean,
      "daily" -> Incremental.incrementalDailyAvg(clean, days + 1),
      "mart" -> Iot.top5Hot(clean))
    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    try expected.map { case (t, want) =>
      s"${inc(days)}/$t" -> (try {
        val (wantRows, wantHash) = fingerprint(want)
        val (gotRows, gotHash) = fingerprint(
          Tables.table(spark, sinks.getPath, t).select(want.columns.map(col): _*))
        if (wantRows == gotRows && wantHash == gotHash) None
        else Some(s"sink $t: $gotRows rows, want $wantRows; row hashes differ")
      } catch {
        // a missing or unreadable sink is a wrong output, not a crash
        case e: Exception => Some(s"sink $t: ${e.getMessage}")
      })
    } finally spark.catalog.clearCache()
  }
}

object Dirs {
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def files(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles).map(_.toSeq.flatMap(files)).getOrElse(Nil)

  /** Parquet part files: what a sink holds, without checksums and markers. */
  def dataFiles(f: File): Seq[File] = files(f).filter(_.getName.startsWith("part-"))

  /** Data files by path with (size, mtime), for counting what a call wrote. */
  def snapshot(f: File): Map[String, (Long, Long)] =
    dataFiles(f).map(x => x.getPath -> (x.length, x.lastModified)).toMap
}
