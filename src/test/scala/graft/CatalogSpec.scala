package graft

import org.apache.spark.sql.functions._

/** The SQL surface: register views, then run reference-shaped SQL
  * directly through spark.sql — including one of the oracle texts that
  * is valid in both DuckDB and Spark SQL dialects.
  */
class CatalogSpec extends SparkSpec {

  test("registerTables exposes all tables to spark.sql, events typed") {
    Catalog.registerTables(spark, sfDir)
    assert(spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0) == 6000)
    assert(spark.sql("SELECT ts FROM events LIMIT 1")
      .schema("ts").dataType.typeName == "timestamp")
  }

  test("cache-heavy catalog entries leave no blocks after a harness clearCache") {
    // the multi-consumer caches (shingle/band/gram/embed frames) are
    // session-scoped and owned by the harness: Bench/Verify clearCache
    // between queries. This pins that one sweep actually releases them.
    Seq("x02_jaccard_pairs", "x17_multimodal_topk", "x21_langid_ngram",
        "x33_minhash_recall", "x41_corpus_build", "x44_incremental_curation",
        "x53_semantic_dedup", "x56_semantic_dedup_hier")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).count())
    spark.catalog.clearCache()
    assert(org.apache.spark.sql.GraftTestBridge.cacheIsEmpty(spark),
      "cached plans leaked past clearCache")
  }

  test("the IoT flagship runs as pure SQL and matches the DataFrame result") {
    Catalog.registerTables(spark, sfDir)
    val sqlOut = spark.sql(
      """WITH base AS (
        |  SELECT event_id, CAST(ts AS DATE) AS day, value FROM events
        |  WHERE value IS NOT NULL AND trim(lower(event_type)) <> ''),
        |p AS (
        |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
        |         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
        |  FROM base)
        |SELECT day,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*) + 0.5)
        |         / 100.0D AS avg_value,
        |       count(*) AS n
        |FROM base, p WHERE value BETWEEN p_lo AND p_hi GROUP BY day""".stripMargin)
    val dfOut = pipelines.Iot.dailyAvg(Tables.events(spark, sfDir))
    assert(sqlOut.collect().toSet == dfOut.collect().toSet)
  }
}
