package graft

/** Plan-audit main: prints `explain("formatted")` for selected queries so
  * pushdown/pruning/join strategies can be inspected and tracked.
  * Usage: runMain graft.Plans [queryName ...] (default: a headline set).
  * SPARK_GRAFT_PLAN_DIR=<dir> additionally writes each query's plan to
  * <dir>/<query><SPARK_GRAFT_PLAN_SUFFIX>.txt (the optimization rounds'
  * plans/rNN/<query>_{before,after}.txt deliverable). The session is
  * Bench's (`Bench.localSession`: SPARK_GRAFT_CPUS, default 32, and the
  * same shuffle sizing), so the audited plans are the benched plans.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_iot_clean", "q07_order_status_mart", "q20_pricing_summary",
        "q21_shipping_priority", "q22_revenue_by_nation", "x05_cosine_topk",
        "x20_cosine_ivf")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // computed ONCE (round-17 advice: explain() + explainString ran
      // the formatter twice per query), printed and written as-is
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      planDir.foreach { d =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$n$suffix.txt"), plan)
      }
      // queries that cache multi-consumer frames otherwise leak blocks
      // across a many-query audit run (the Bench/Verify contract)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
