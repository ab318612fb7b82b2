package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Phase decomposition for the BM25 Impact route's scaffolding (x87): times
  * frame CONSTRUCTION (which since round 17 runs eager cache fills /
  * collects) separately from the final materialization, and counts the
  * Spark jobs each phase launches — the round-18 "fewer, fatter
  * stages" work needs job attribution, not another end-to-end number.
  * Usage: Test/runMain graft.tools.ImpactProbe [dir] [reps]
  */
object ImpactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse("").take(40)))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, d) =>
          val ms = (System.nanoTime() - t0) / 1e6
          if (ms >= 100) println(f"[job] ${je.jobId}%4d ${ms}%8.0f ms  $d")
        }
      }
    })
    def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    // SparkEntry.fixedCountPred's spelling (private there), ~40 queries
    val buckets = math.max(1L, n / 40L)
    val pred = graft.neardup.NearDup.portableBase(col("doc_id").cast("string")) <
      lit((1L << 60) / buckets)
    (1 to reps).foreach { rep =>
      spark.catalog.clearCache()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val df = graft.text.Retrieval.bm25TopK(docs, "doc_id", "text",
        pred, route = graft.text.Bm25Route.Impact(), k = 5, maxDfFrac = 0.9)
      val t1 = System.nanoTime()
      val j1 = jobs.get()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      val j2 = jobs.get()
      println(f"[impact] rep $rep construct ${(t1 - t0) / 1e9}%6.2f s " +
        f"(${j1 - j0} jobs)  materialize ${(t2 - t1) / 1e9}%6.2f s " +
        f"(${j2 - j1} jobs)  n=$n")
    }
    // the plain spelling, same protocol, for the overhead ratio
    (1 to reps).foreach { rep =>
      spark.catalog.clearCache()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val df = graft.text.Retrieval.bm25TopK(docs, "doc_id", "text",
        pred, k = 5, maxDfFrac = 0.9)
      val t1 = System.nanoTime()
      val j1 = jobs.get()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      val j2 = jobs.get()
      println(f"[plain]  rep $rep construct ${(t1 - t0) / 1e9}%6.2f s " +
        f"(${j1 - j0} jobs)  materialize ${(t2 - t1) / 1e9}%6.2f s " +
        f"(${j2 - j1} jobs)")
    }
    spark.stop()
  }
}
