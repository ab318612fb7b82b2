package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-run driver for the BM25 family's scratch-routing decisions:
  * runs ONE spelling of the x70 pipeline (the x70/x86/x89 query sample
  * — fixed-count ~40 docs by the portableBase range test) at a corpus
  * dir, REPS=1 through the noop sink, and prints one JSON line with
  * wall seconds and the peak Spark scratch growth (2s daemon sampler,
  * Bench's protocol). Modes:
  *
  *  - `auto`     — the `Auto` route with the DEFAULT scratch budget:
  *                 the round-16 completion run (does the default route
  *                 survive v2-10M single-node where r14 committed both
  *                 non-batched spellings dying?)
  *  - `staged`   — the `Batched` route at an explicit batch count, the
  *                 tokenized corpus staged ONCE to scratch parquet; the
  *                 staging dir is created under java.io.tmpdir and
  *                 deleted after the run
  *
  * usage: Test/runMain graft.tools.Bm25ScaleProbe <dir> <mode> [batches]
  */
object Bm25ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val batches = if (args.length > 2) args(2).toInt else 4
    val cpus = graft.Bench.localCores().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def scratchBytes(): Long = graft.Scratch.bytes(spark.sparkContext.getConf)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    // the catalog's fixed-count ~40-query sample (SparkEntry's
    // portableBase range test, replicated)
    val pred = graft.neardup.NearDup.portableBase(
      col("doc_id").cast("string")) <
      lit((1L << 60) / math.max(1L, n / 40L))

    val scratch0 = scratchBytes()
    val peak = new java.util.concurrent.atomic.AtomicLong(scratch0)
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) {
        peak.accumulateAndGet(scratchBytes(), math.max(_, _))
        try Thread.sleep(2000)
        catch { case _: InterruptedException => () }
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val t0 = System.nanoTime()
    val out = mode match {
      case "auto" =>
        graft.text.Retrieval.bm25TopK(docs, "doc_id", "text", pred,
          route = graft.text.Bm25Route.Auto(n, queryCount = 40L))
      case "staged" =>
        graft.text.Retrieval.bm25TopK(docs, "doc_id", "text", pred,
          route = graft.text.Bm25Route.Batched(batches))
      case other => sys.error(s"unknown mode: $other")
    }
    // row count rides the timed write as an Observation (one scalar
    // aggregate over rows the noop sink evaluates anyway): a separate
    // out.count() after the write would RE-EXECUTE the whole pipeline
    // when the result is lazy (auto with batches==1 — any corpus whose
    // index fits the budget), doubling the probe's untimed work and
    // skewing the final samplePeak's scratch window (r16 advice)
    val obs = new org.apache.spark.sql.Observation("probe_rows")
    out.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").format("noop").save()
    val wallSec = (System.nanoTime() - t0) / 1e9
    // the staged temp dir is created AND deleted inside the
    // Batched route; its one-time size was measured in the round-16
    // A/B (~0.23 KB/doc) — report -1 here (function-managed)
    val stagedMb = if (mode == "staged") -1L else 0L
    stop = true
    sampler.interrupt()
    peak.accumulateAndGet(scratchBytes(), math.max(_, _))
    sampler.join(5000)
    val rows = obs.get("rows").asInstanceOf[Long]
    val autoBatches =
      if (mode == "auto")
        graft.text.Retrieval.bm25AutoBatches(n, 40L,
          graft.text.Retrieval.bm25DefaultScratchBudgetMb)
      else batches
    val bootId =
      try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id"))
        .trim
      catch { case _: Exception => "unknown" }
    println(
      s"""{"metric":"bm25_scale_probe","corpus":"$dir","mode":"$mode",""" +
      s""""docs":$n,"batches":$autoBatches,"wall_sec":${f"$wallSec%.1f"},""" +
      s""""peak_scratch_mb":${math.max(0L, peak.get() - scratch0) >> 20},""" +
      s""""staged_mb":$stagedMb,"out_rows":$rows,"boot_id":"$bootId"}""")
    spark.stop()
  }
}
