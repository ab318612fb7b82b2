package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.GraftTestBridge
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import graft.SparkSpec

/** Pins the OPTIMIZED plan shape of CorpusStream.curate: the staged
  * redact→tokenize→gate pipeline must evaluate each expensive regex
  * exactly once per row. Filter pushdown through the staged Projects
  * substitutes aliases with no cost guard, so without a barrier the
  * gate predicate re-inlines the whole 3-regex redaction chain into
  * ~98 copies (measured ~30s vs ~2s at sf0.1). The barrier is an
  * `observe` (CollectMetrics) node — the optimizer cannot move a
  * predicate below it without changing the observed metric — and this
  * spec is the regression tripwire the bare rand()-column trick never
  * had: if a future optimizer version collapses the stages anyway, the
  * copy count explodes and the assertions here fail loudly, instead of
  * the regression surfacing only as a silent bench slowdown.
  */
class CurationPlanSpec extends SparkSpec {

  // one RegExpReplace each: PII email, PII ip, PII phone (Pii
  // .redactedCol), fingerprint whitespace-normalize (TextAnalysis
  // .fingerprintCol), punctuation strip (qualityBucketFromToks)
  private val expectedRegexCopies = 5

  private def regexCopies(plan: LogicalPlan): Int =
    plan.collect { case p =>
      p.expressions.map(_.collect { case r: RegExpReplace => r }.size).sum
    }.sum

  private def assertBarrierShape(plan: LogicalPlan): Unit = {
    assert(plan.collect { case c: CollectMetrics => c }.nonEmpty,
      s"observe barrier vanished from the optimized plan:\n$plan")
    val n = regexCopies(plan)
    assert(n == expectedRegexCopies,
      s"expected $expectedRegexCopies RegExpReplace copies, got $n — " +
        s"the gate filter was pushed through the staged Projects:\n$plan")
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val fixture = Seq(
    (1L, ts("2024-03-01 10:00:00"),
      "the quick brown fox jumps over a lazy dog today contact a@b.com"),
    (3L, ts("2024-03-01 10:06:00"), "der hund und die katze das ein haus"))

  test("batch curate optimized plan holds ONE copy of each regex behind the observe barrier") {
    import spark.implicits._
    // parquet-backed input: over a LocalRelation the optimizer constant-
    // folds the whole pipeline away and there is no plan left to audit
    val dir = java.nio.file.Files
      .createTempDirectory("curation_plan_spec").toString
    fixture.toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val df = CorpusStream.curate(spark.read.parquet(dir))
    assertBarrierShape(df.queryExecution.optimizedPlan)
  }

  test("streaming curate micro-batch optimized plan holds ONE copy of each regex") {
    import spark.implicits._
    // a FILE stream, not MemoryStream: memory batches arrive as
    // LocalRelations, which the optimizer constant-folds just like the
    // batch case — only a real scan exercises the pushdown the barrier
    // must block. noDataMicroBatches off so lastExecution IS the data
    // batch rather than the trailing watermark-advance batch.
    val dir = java.nio.file.Files
      .createTempDirectory("curation_plan_stream").toString
    fixture.toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    val q = CorpusStream.curate(spark.readStream.schema(schema).parquet(dir))
      .writeStream.format("memory").queryName("curation_plan_probe")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("curation_plan_ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      // what the micro-batch ACTUALLY ran, after IncrementalExecution
      assertBarrierShape(GraftTestBridge.lastStreamOptimizedPlan(q))
    } finally {
      q.stop()
      spark.catalog.dropTempView("curation_plan_probe")
      saved match {
        case Some(v) => spark.conf.set(noData, v)
        case None    => spark.conf.unset(noData)
      }
    }
  }
}
