package graft.tools

import org.apache.spark.sql.SparkSession

/** Matched flat-vs-hier kNN-graph probe (x63's operator) for the
  * PLANS.md scale tables: times `Similarity.knnGraph` at the flat
  * `CellShape.flat` schedule (x63's PRE-round-11 √(n/2) nlist; `Flat`
  * runs as one coarse cell, the n·nlist crossJoin spelling) against the
  * shipped `CellShape.hier` schedule (knnHierClusterSize=100) on the
  * same corpus, same JVM, noop-sink materialization, warm-up on
  * sf0.001 — the isolated, matched protocol that per-query scale
  * conclusions need.
  *
  * usage: Test/runMain graft.tools.KnnProbe <sfDir> <flat|hier|both> [reps]
  */
object KnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.col
    import graft.sim.{CellShape, Similarity}
    import graft.multimodal.Multimodal

    def graph(d: String, hier: Boolean) = {
      val docs = graft.Tables.documents(spark, d)
      val emb = Multimodal.fakeEmbedInt(spark,
        Multimodal.withPayload(docs, "doc_id", "text"), dim = 16)
        .toDF().cache()
      val n = docs.count()
      val shape =
        if (hier) CellShape.hier(n, minNlist = 16, clusterSize = 100, minCoarse = 4)
        else CellShape.flat(n, minNlist = 16)
      Similarity.knnGraph(emb, "doc_id", "embedding", shape, nprobe = 2, k = 5)
    }
    def run(hier: Boolean): Unit = {
      val label = if (hier) "hier" else "flat"
      // warm-up: codegen + parquet footers on the tiny dir
      graph("/root/testdata/sf0.001", hier)
        .write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      val times = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        graph(dir, hier).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        System.err.println(f"[knnprobe] $label rep $r: $dt%.1fs")
        dt
      }
      println(f"[knnprobe] RESULT $label $dir min=${times.min}%.2fs reps=$reps")
    }
    if (mode == "flat" || mode == "both") run(hier = false)
    if (mode == "hier" || mode == "both") run(hier = true)
    spark.stop()
  }
}
