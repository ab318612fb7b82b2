package graft.neardup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec
import graft.text.TextAnalysis

/** NearDup's pinning rule, read off the plans: a function pins a frame it
  * derives itself when two or more of its own later steps read it, and
  * never pins a frame its caller passed in. The pins a frame reads are
  * the `InMemoryRelation`s of `queryExecution.withCachedData`, plus the
  * ones nested inside each cached plan.
  */
class PinningRuleSpec extends SparkSpec {
  import spark.implicits._

  private object Walk extends AdaptiveSparkPlanHelper

  /** Output columns of every cache entry `df` reads, one per entry. */
  private def pins(df: DataFrame): Seq[Set[String]] = {
    def nested(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: Walk.collect(r.cacheBuilder.cachedPlan) {
        case s: InMemoryTableScanExec => s.relation
      }.flatMap(nested)
    df.queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r }
      .flatMap(nested)
      .map(_.cacheBuilder).distinct
      .map(_.cachedPlan.output.map(_.name).toSet)
  }

  /** Runs one case on an empty cache and releases its pins after. */
  private def onCleanCache(body: => Unit): Unit = {
    spark.catalog.clearCache()
    try body finally spark.catalog.clearCache()
  }

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "a slow green turtle walks under the busy bridge"),
    (4L, "a slow green turtle walks under the busy road"),
    (5L, "the quick brown fox naps")).toDF("doc_id", "text")

  private def toks: DataFrame =
    docs.select(col("doc_id").as("id"), TextAnalysis.tokens(col("text")).as("toks"))

  private val shingleCols = Set("id", "shingle")

  test("jaccardPairs with a df cap pins exactly its shingles and the capped index") {
    onCleanCache {
      val out = NearDup.jaccardPairs(docs, "doc_id", "text", k = 2,
        maxDocFreq = Some(3))
      assert(pins(out) == Seq(shingleCols, shingleCols))
      assert(out.count() > 0)
    }
  }

  test("jaccardPairsOver pins a capped index it derives, never the index it " +
      "was handed") {
    onCleanCache {
      // caller-pinned, uncapped: the caller's pin is the only one
      val sh = NearDup.shingles(docs, "doc_id", "text", k = 2).cache()
      val out = NearDup.jaccardPairsOver(sh, threshold = 0.5)
      assert(pins(out) == Seq(shingleCols))
      assert(out.count() > 0)
    }
    onCleanCache {
      // unpinned and capped: only the capped index is pinned
      val sh = NearDup.shingles(docs, "doc_id", "text", k = 2)
      val out = NearDup.jaccardPairsOver(sh, threshold = 0.5,
        maxDocFreq = Some(3))
      assert(pins(out) == Seq(shingleCols))
      assert(sh.storageLevel == StorageLevel.NONE)
      assert(out.count() > 0)
    }
  }

  test("the MinHash and SimHash banding pin their band index under a cap, " +
      "and nothing they were handed") {
    val mhBands = Set("id", "band_id", "band_hash")
    val sxBands = Set("id", "simhash", "chunk_id", "chunk_val")
    onCleanCache {
      val sh = NearDup.shingles(docs, "doc_id", "text", k = 2)
      assert(pins(NearDup.minhashCandidatesOver(sh, maxBucketSize = Some(3))) ==
        Seq(mhBands))
      assert(pins(NearDup.minhashLshPairsOver(sh, maxBucketSize = Some(3))) ==
        Seq(mhBands))
      assert(sh.storageLevel == StorageLevel.NONE)
    }
    onCleanCache {
      val t = toks
      assert(pins(NearDup.simhashPairsFromToks(t, maxBucketSize = Some(3))) ==
        Seq(sxBands))
      assert(t.storageLevel == StorageLevel.NONE)
      val sig = NearDup.simhashFromToks(t)
      assert(pins(NearDup.simhashCandidatesFromSig(sig, maxBucketSize = Some(3))) ==
        Seq(sxBands))
      assert(sig.storageLevel == StorageLevel.NONE)
    }
    onCleanCache {
      // uncapped, the band index feeds one step (the pair self-join)
      val sh = NearDup.shingles(docs, "doc_id", "text", k = 2)
      assert(pins(NearDup.minhashCandidatesOver(sh)).isEmpty)
      assert(pins(NearDup.simhashPairsFromToks(toks)).isEmpty)
    }
  }

  test("minhashLshPairs and langIdNgram pin the frames they derive") {
    onCleanCache {
      val out = NearDup.minhashLshPairs(docs, "doc_id", "text", k = 2,
        maxBucketSize = Some(3))
      assert(pins(out).toSet ==
        Set(shingleCols, Set("id", "band_id", "band_hash")))
      out.collect()
    }
    onCleanCache {
      val labeled = docs.withColumn("lang", lit("en"))
      val out = TextAnalysis.langIdNgram(labeled, "doc_id", "text", "lang")
      assert(pins(out).size == 1)
      assert(labeled.storageLevel == StorageLevel.NONE)
    }
  }
}
