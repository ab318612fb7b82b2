package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Stage decomposition for x70_bm25_topk at a given corpus dir: times
  * each sub-plan of the BM25 pipeline in isolation (noop sink) so a
  * super-linear step can be attributed to a stage instead of guessed
  * at. Usage: Test/runMain graft.tools.Bm25Probe <dir>
  */
object Bm25Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
    def time(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      println(f"[bm25probe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    }

    val toks = docs.select(col("doc_id").as("nid"),
      TextAnalysis.tokens(col("text")).as("tk"))

    time("scan_ids")(docs.select("doc_id"))
    time("scan_text")(docs.select(length(col("text")).as("l")))
    time("tokenize")(toks.select(size(col("tk")).as("s")))
    time("stats_agg")(
      toks.agg(count(lit(1)).as("n"), sum(size(col("tk"))).as("sl")))
    time("explode_count")(
      toks.select(col("nid"), explode(col("tk")).as("term"))
        .groupBy().agg(count(lit(1))))
    val n = docs.count()
    val buckets = math.max(1L, n / 20).toInt
    val pred = graft.ops.Sampling.hashBucket(col("doc_id"), buckets) === 0
    val qterms0 = docs.filter(pred)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
    time("qset")(qterms0.select("term").distinct())
    val qset = qterms0.select("term").distinct()
    time("tf_filtered")(
      toks.select(col("nid"), size(col("tk")).as("dl"),
          explode(col("tk")).as("term"))
        .join(broadcast(qset), Seq("term"))
        .groupBy("nid", "dl", "term").agg(count(lit(1)).as("tf")))
    time("full_bm25")(
      graft.text.Retrieval.bm25TopK(docs, "doc_id", "text", pred,
        k = 5, maxDfFrac = 0.9))
    // the impact-ordered spelling on the same query sample, so a
    // super-linear x86 step can be split into index-build vs
    // impact-scaffolding share (cache cleared so neither full_* run
    // inherits the other's screened postings)
    spark.catalog.clearCache()
    time("full_impact")(
      graft.text.Retrieval.bm25TopK(docs, "doc_id", "text", pred,
        route = graft.text.Bm25Route.Impact(), k = 5, maxDfFrac = 0.9))
    spark.catalog.clearCache()
    spark.stop()
  }
}
