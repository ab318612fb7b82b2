package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-curation scale probe (round-15 verdict item: x52 had never
  * run above sf0.1-size corpora — its v2 sweep row was the batch twin).
  * Runs [[graft.streaming.CorpusStream.curate]] over a ScaleGenV2
  * corpus as a RATE-LIMITED file stream (`maxFilesPerTrigger` parquet
  * parts per micro-batch — the file-source equivalent of a rate
  * limiter) through the real watermarked dedup state store, into the
  * noop sink, and prints one JSON line with throughput and state-store
  * peaks.
  *
  * Event time is x52's day-bounded synthetic ts (`base + doc_id mod
  * 86400` — ids are avalanche-mixed, so ts is uniform over one day and
  * UNCORRELATED with arrival order); lateness is therefore 25 hours so
  * the watermark machinery runs (computed, advanced, and recorded per
  * batch) without ever classifying an in-day row as late — with x52's
  * 1-hour lateness a multi-batch run would drop most rows as late
  * after the first batch advances the watermark to end-of-day, which
  * would measure the DROP path, not the dedup path. State therefore
  * holds every unique kept fingerprint for the whole run: its peak IS
  * the probe's honest scratch bound (one fingerprint per unique kept
  * doc, the CorpusStream scale contract).
  *
  * The optional `parts` arg re-buckets documents.parquet into that many
  * part files in a temp dir before streaming (deleted after): the file
  * source's rate limit is FILES per trigger, so micro-batch granularity
  * is part-file granularity — ScaleGenV2 writes 8 parts, which caps any
  * run at 8 batches regardless of mfpt. 128 parts at mfpt=1 also drives
  * the batch count past the 100-entry recentProgress window, the
  * undercount the probe's listener accumulation exists to avoid.
  *
  * usage: Test/runMain graft.tools.StreamProbe <corpusDir> [maxFilesPerTrigger] [parts]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir0 = args(0)
    val mfpt = if (args.length > 1) args(1) else "1"
    val parts = if (args.length > 2) args(2).toInt else 0
    val cpus = graft.Bench.localCores().toString
    // state-store partition count: default 8 (the x51/x52 sizing — state
    // files per partition); SPARK_GRAFT_STREAM_PARTS overrides so the
    // round-17 state-stage-saturation sweep can hold scan parallelism
    // fixed and scale ONLY the stateful stage (state partitioning is a
    // provisioning-time decision on a real deployment — resharding
    // requires a checkpoint rebuild — which is exactly why the scaling
    // curve needs to be measured, not assumed)
    val stateParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", stateParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional re-bucket for micro-batch granularity (see header)
    val (dir, rebucketed) =
      if (parts > 0) {
        val tmp = java.nio.file.Files
          .createTempDirectory("streamprobe_parts").toString
        spark.read.parquet(s"$dir0/documents.parquet")
          .repartition(parts)
          .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
        (tmp, true)
      } else (dir0, false)
    // metrics via a StreamingQueryListener, NOT q.recentProgress:
    // recentProgress retains only the last numRecentProgressUpdates
    // (default 100) entries, so a corpus with more part files than that
    // at maxFilesPerTrigger=1 would silently undercount input_rows /
    // batches and corrupt rows_per_sec — exactly at the scales this
    // probe exists to measure. The listener sees EVERY progress event.
    val inRowsAcc = new java.util.concurrent.atomic.AtomicLong(0L)
    val batchesAcc = new java.util.concurrent.atomic.AtomicLong(0L)
    val procMsAcc = new java.util.concurrent.atomic.AtomicLong(0L)
    val stateRowsPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    val stateBytesPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          inRowsAcc.addAndGet(p.numInputRows)
          if (p.numInputRows > 0) batchesAcc.incrementAndGet()
          // triggerExecution is the WHOLE trigger wall (the other
          // durationMs keys are its components) — summing every key
          // double-counts; take the total only
          procMsAcc.addAndGet(
            Option(p.durationMs.get("triggerExecution")).map(_.longValue())
              .getOrElse(0L))
          p.stateOperators.foreach { so =>
            stateRowsPeak.accumulateAndGet(so.numRowsTotal, math.max(_, _))
            stateBytesPeak.accumulateAndGet(so.memoryUsedBytes, math.max(_, _))
          }
        }
      })
    val t0 = System.nanoTime()
    val raw = spark.read.parquet(s"$dir/documents.parquet").schema
    val src = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", mfpt)
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        timestamp_seconds(lit(1704067200L) + pmod(col("doc_id"), lit(86400L)))
          .as("ts"),
        col("text"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("streamprobe_ckpt").toString
    val q = graft.streaming.CorpusStream
      .curate(src, lateness = "25 hours")
      .select("fingerprint")
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9
    // listener events are posted asynchronously — poll (outside the
    // measured wall) until the accumulators are STABLE across two
    // checks, instead of a fixed sleep a loaded listener bus can outrun
    // (r16 advice: the exact long-batch-count runs the listener was
    // added for are the ones that drain slowest); bounded at 30s so a
    // wedged bus cannot hang the probe
    var stable = 0
    var last = (-1L, -1L)
    var waited = 0
    while (stable < 2 && waited < 300) {
      Thread.sleep(100)
      waited += 1
      val cur = (inRowsAcc.get(), batchesAcc.get())
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
    val inRows = inRowsAcc.get()
    println(
      s"""{"metric":"stream_curation","corpus":"$dir0","batches":${batchesAcc.get()},""" +
      s""""input_rows":$inRows,"wall_sec":${f"$wallSec%.1f"},""" +
      s""""batch_proc_sec":${procMsAcc.get() / 1e3},""" +
      s""""rows_per_sec":${f"${inRows / wallSec}%.0f"},""" +
      s""""state_rows_peak":${stateRowsPeak.get()},""" +
      s""""state_mb_peak":${stateBytesPeak.get() >> 20},""" +
      s""""max_files_per_trigger":$mfpt,"parts":$parts,""" +
      s""""state_parts":$stateParts}""")
    if (rebucketed) {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    spark.stop()
  }
}
