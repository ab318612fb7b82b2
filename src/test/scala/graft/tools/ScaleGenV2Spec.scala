package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the v2 scale-fixture generator's contract: the 1000x probe
  * tables in PLANS.md are only comparable across rounds if the same
  * (nDocs, nVecs, dupPct, seed) regenerate the same corpus, and two of
  * round 11's scale defects were FIXTURE artifacts (id-lattice
  * aliasing, degenerate vocabulary) — this spec fails if a generator
  * edit silently reintroduces either class.
  */
class ScaleGenV2Spec extends SparkSpec {

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_sgv2_").toString
    ScaleGenV2.generate(spark, d, nDocs = 2000, nVecs = 800, dupPct = 20,
      seed = 42L)
    d
  }
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val vecs = spark.read.parquet(s"$dir/embeddings.parquet")

  test("generation is deterministic: same args → byte-identical corpus") {
    val d2 = java.nio.file.Files.createTempDirectory("graft_sgv2b_").toString
    ScaleGenV2.generate(spark, d2, nDocs = 2000, nVecs = 800, dupPct = 20,
      seed = 42L)
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(s"$d2/documents.parquet")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    val va = vecs.orderBy("vec_id").collect().toSeq
    val vb = spark.read.parquet(s"$d2/embeddings.parquet")
      .orderBy("vec_id").collect().toSeq
    assert(va == vb)
  }

  test("ids are avalanche-mixed: no arithmetic lattice, fixed-count " +
    "predicates select near their target") {
    // the round-11 lesson: ScaleGen v1's decimal-lattice replica ids
    // aliased the old linear bucket predicate 27x over target — v2 ids
    // must keep hash-derived sampling within Poisson noise of target
    // (the predicate below is catalog.Shared.fixedCountPred's spelling)
    val target = 40L
    val buckets = math.max(1L, docs.count() / target)
    val pred = graft.neardup.NearDup
      .portableBase(col("doc_id").cast("string")) < lit((1L << 60) / buckets)
    val got = docs.filter(pred).count()
    assert(got >= 15 && got <= 80,
      s"fixedCountPred selected $got docs for target $target")
  }

  test("vocabulary is Zipfian with the langid stopword head") {
    val terms = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    // realistic vocabulary breadth (v1's base corpus had ~31 terms)
    assert(terms.count() > 10000)
    // the most frequent token is the rank-1 English head word, and the
    // head dominates the way a 1/r law does (top term >> 100th term)
    val top = terms.orderBy(col("c").desc).limit(100).collect()
    assert(top.head.getString(0) == "the")
    assert(top.head.getLong(1) > 10L * top.last.getLong(1))
  }

  test("language gates classify generated docs by their generation head") {
    val byLang = docs
      .select(col("lang"),
        graft.text.TextAnalysis.predLangCol(col("text")).as("pred"))
      .groupBy("lang").agg(
        count(lit(1)).as("n"),
        count(when(col("pred") === col("lang"), 1)).as("hit"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(byLang.keySet == Set("en", "de", "es"))
    byLang.foreach { case (l, (n, hit)) =>
      assert(hit.toDouble / n > 0.9, s"$l: only $hit/$n classified as $l")
    }
  }

  test("the seed moves the embedding cluster geometry, not just the noise") {
    // round-12 advice: centers were derived without the run seed, so
    // "seeded centers" silently meant seed-independent geometry.
    // Round-13 advice tightened the TEST: the old probe compared mean
    // component sums of corpora differing in size/dupPct/seed at a 1e-6
    // threshold — noise sampling alone clears that, so it could not
    // detect the regression. Now: IDENTICAL (nDocs, nVecs, dupPct)
    // under two seeds, compare ESTIMATED per-label cluster centers.
    // Noise is ±0.2 uniform (zero-mean): a per-(label, pos) mean over
    // ~10 members has ~0.04 standard error, while independently drawn
    // centers differ ~0.67 per component — 0.25 separates the two
    // regimes with wide margin on both sides.
    def centers(dir: String): Map[(Int, Int), Double] =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos").agg(avg(col("x")).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val dA = java.nio.file.Files.createTempDirectory("graft_sgv2sa_").toString
    val dB = java.nio.file.Files.createTempDirectory("graft_sgv2sb_").toString
    ScaleGenV2.generate(spark, dA, nDocs = 200, nVecs = 100, dupPct = 0,
      seed = 7L)
    ScaleGenV2.generate(spark, dB, nDocs = 200, nVecs = 100, dupPct = 0,
      seed = 13L)
    val (ca, cb) = (centers(dA), centers(dB))
    val shared = ca.keySet intersect cb.keySet
    assert(shared.size > 300, s"only ${shared.size} shared (label, pos) cells")
    // mean |Δcenter| per label across its 64 components
    val byLabel = shared.groupBy(_._1)
      .map { case (l, ks) =>
        l -> ks.toSeq.map(k => math.abs(ca(k) - cb(k))).sum / ks.size }
    val moved = byLabel.count(_._2 > 0.25)
    assert(moved >= byLabel.size - 1, // one label may land near its twin
      s"only $moved/${byLabel.size} labels moved > 0.25: $byLabel")
  }

  test("nVecs > nDocs is rejected (vec ids must be a subset of doc ids)") {
    val d2 = java.nio.file.Files.createTempDirectory("graft_sgv2r_").toString
    intercept[IllegalArgumentException] {
      ScaleGenV2.generate(spark, d2, nDocs = 10, nVecs = 11, dupPct = 0)
    }
  }

  test("head vocabularies are pairwise disjoint (zero cross-language " +
    "token overlap)") {
    // round-12 advice: en and es both carried "total" — the cross-
    // language-overlap-is-zero claim depends on this staying true
    val heads = Seq("en", "de", "es").map(l =>
      docs.filter(col("lang") === l)
        .select(explode(split(col("text"), " ")).as("t"))
        .distinct().collect().map(_.getString(0)).toSet)
    for (a <- heads.indices; b <- heads.indices if a < b)
      assert((heads(a) intersect heads(b)).isEmpty,
        s"langs $a/$b share tokens: ${(heads(a) intersect heads(b)).take(5)}")
  }

  test("factScale emits the full FK-consistent fact-table set at shipped " +
    "ratios (and the extended invariants hold — generate asserts them)") {
    val d2 = java.nio.file.Files.createTempDirectory("graft_sgv2f_").toString
    ScaleGenV2.generate(spark, d2, nDocs = 100, nVecs = 50, dupPct = 0,
      seed = 42L, factScale = 2L)
    def t(n: String) = spark.read.parquet(s"$d2/$n.parquet")
    assert(t("events").count() == 2000 && t("orders").count() == 3000 &&
      t("customer").count() == 300 && t("part").count() == 400 &&
      t("supplier").count() == 20 && t("nation").count() == 25 &&
      t("region").count() == 5)
    // lineitem: 1-7 lines per order, mean 4 ⇒ ~12000 ± noise
    val nli = t("lineitem").count()
    assert(nli > 10000 && nli < 14000, s"lineitem $nli")
    // FK containments the marts rely on: users ⊂ customer keys,
    // o_custkey ⊂ customer keys, l_partkey/l_suppkey in domain
    assert(t("events").agg(max("user_id")).collect()(0).getLong(0) < 300)
    assert(t("orders").agg(max("o_custkey")).collect()(0).getLong(0) < 300)
    assert(t("lineitem").agg(max("l_partkey")).collect()(0).getLong(0) < 400)
    assert(t("lineitem").agg(max("l_suppkey")).collect()(0).getLong(0) < 20)
    // shipdate rides 1..90 days after its order's date
    val badShip = t("lineitem").join(t("orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") <= col("o_orderdate") ||
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .count()
    assert(badShip == 0)
  }

  test("dup rate materializes as exact text twins and byte-exact dup vectors") {
    val dupDocs = docs.groupBy("text").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(sum(col("c"))).collect()(0).getLong(0)
    // dupPct=20, half exact → ≥ ~7% of docs should sit in exact groups
    assert(dupDocs > 2000 * 0.07, s"only $dupDocs docs in exact-dup groups")
    val dupVecs = vecs.groupBy("embedding").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(sum(col("c"))).collect()(0).getLong(0)
    assert(dupVecs > 800 * 0.12, s"only $dupVecs vecs in exact-dup groups")
  }
}
