package graft.sim

import graft.SparkSpec
import graft.sim.CellShape.{Flat, Hier}
import org.apache.spark.sql.functions._

/** Semantic-dedup (x53) contract: one output row per input document,
  * exact embedding duplicates collapse to the lowest id, and docs with
  * no epsilon-ball cluster-mate survive. The fixture builds integer
  * vectors directly (the operator is embedding-generic; the catalog
  * entry feeds it Multimodal.fakeEmbedInt).
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // three exact-duplicate groups (ids 0/10/20 ≡ 1/11 ≡ 2) plus two
  // far-apart singletons; 4-dim integer vectors, cosine-distinct
  private def emb = Seq(
    (0L, Seq(100L, 0L, 0L, 0L)),
    (10L, Seq(100L, 0L, 0L, 0L)),
    (20L, Seq(200L, 0L, 0L, 0L)), // scaled copy: cosine 1.0 with id 0
    (1L, Seq(0L, 100L, 0L, 0L)),
    (11L, Seq(0L, 100L, 0L, 0L)),
    (2L, Seq(0L, 0L, 100L, 7L)),
    (3L, Seq(0L, 0L, 7L, 100L)))
    .toDF("doc_id", "embedding")

  test("exact duplicates collapse to the lowest id; singletons survive") {
    val out = Similarity.semDedup(emb, "doc_id", "embedding", Flat(4),
        threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 7, "one output row per input document")
    assert(out(0L), "group keeper (lowest id) must survive")
    assert(!out(10L) && !out(20L), "exact/scaled duplicates must drop")
    assert(out(1L) && !out(11L), "second group keeps 1, drops 11")
    assert(out(2L) && out(3L),
      "cosine(≈0.14) singletons must both survive the 0.999 ball")
  }

  test("hierarchical path: duplicates collapse, singletons survive, output total") {
    val out = Similarity.semDedup(emb, "doc_id", "embedding", Hier(4, 2),
        threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 7, "one output row per input document")
    // identical vectors land in the same fine cluster in ANY cell
    // structure (same argmax at both levels), so the duplicate groups
    // must collapse exactly as in the flat path
    assert(out(0L) && !out(10L) && !out(20L))
    assert(out(1L) && !out(11L))
    assert(out(2L) && out(3L))
  }

  test("embeddingNearDupReps collapses twins and carries implied pair counts") {
    // two twin groups of float vectors (3 and 2 members) whose reps are
    // near-dup to each other; one far-away singleton
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (9L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.14f, 0.0f, 0.0f)),
      (7L, Seq(0.99f, 0.14f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingNearDupReps(rows, "vec_id", "embedding",
        dim = 4, threshold = 0.9, nbits = 2, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // reps are min ids 0 and 2; cos ≈ 0.990 ≥ 0.9; implied = 3·2
    assert(out.toSeq == Seq((0L, 2L, 6L)),
      s"expected one rep pair (0,2) with 6 implied pairs, got ${out.toSeq}")
  }

  test("Lloyd centroid mean FLOORS like the oracle's // — negative sums included") {
    // the update is spelled (sv - pmod(sv, cnt)) div cnt so it floors
    // (DuckDB // semantics) instead of truncating toward zero; a plain
    // `sv div cnt` would put the sv=-3,cnt=2 centroid at -1 vs the
    // oracle's -2 and silently desync on the first negative embedding
    val cases = Seq((-3L, 2L, -2L), (-1L, 2L, -1L), (-4L, 2L, -2L),
      (3L, 2L, 1L), (0L, 2L, 0L), (-7L, 3L, -3L), (7L, 3L, 2L))
    val got = cases.map(c => (c._1, c._2)).toDF("sv", "cnt")
      .selectExpr("(sv - pmod(sv, cnt)) div cnt AS m")
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._3),
      s"floor-division drifted: got $got, want ${cases.map(_._3)}")
  }

  test("semantic dedup is total and floor-exact on negative-component embeddings") {
    // embedding-generic inputs may carry negative components; both
    // paths must stay deterministic and keep one row per doc
    val neg = Seq(
      (1L, Seq(-100L, 3L, -7L, 2L)), (2L, Seq(-100L, 3L, -7L, 2L)),
      (3L, Seq(50L, -60L, 1L, 0L)), (4L, Seq(-1L, -1L, -1L, -1L)),
      (5L, Seq(7L, 7L, -7L, -7L))).toDF("doc_id", "embedding")
    Seq(
      Similarity.semDedup(neg, "doc_id", "embedding", Flat(2),
        threshold = 0.999),
      Similarity.semDedup(neg, "doc_id", "embedding", Hier(2, 2),
        threshold = 0.999)
    ).foreach { out =>
      val rows = out.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(rows.size == 5)
      assert(rows(1L) && !rows(2L), "identical negative vectors collapse to min id")
    }
  }

  test("auto crossover is targetClusterSize²/2 (x59 branch bound)") {
    // flat's balanced cluster size is √(2n); it reaches the hierarchical
    // target exactly at n = target²/2 — the shape-derived bound, no
    // free tuning constant
    assert(CellShape.crossoverDocs(300) == 45000L)
    assert(CellShape.crossoverDocs(20) == 200L)
    assert(CellShape.crossoverDocs(3) == 4L)
  }

  test("auto picks the FLAT spelling below the crossover — bit-identical to semDedupInt") {
    // n=7 < 300²/2: flat branch with nlist = max(min, ceil(√(n/2))) = 4
    val shape = CellShape.auto(7L, minNlist = 4, clusterSize = 300, minCoarse = 2)
    assert(shape == Flat(4))
    val auto = Similarity.semDedup(emb, "doc_id", "embedding", shape,
        threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val flat = Similarity.semDedup(emb, "doc_id", "embedding", Flat(4),
        threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(auto == flat)
  }

  test("auto picks the HIERARCHICAL spelling at/above the crossover — bit-identical to semDedupIntHier") {
    // targetClusterSize=3 → crossover 4 ≤ n=7: hierarchical branch with
    // nlist = max(4, ceil(7/3)) = 4, ncoarse = max(2, ceil(√4)) = 2
    val shape = CellShape.auto(7L, minNlist = 4, clusterSize = 3, minCoarse = 2)
    assert(shape == Hier(4, 2))
    val auto = Similarity.semDedup(emb, "doc_id", "embedding", shape,
        threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val hier = Similarity.semDedup(emb, "doc_id", "embedding", Hier(4, 2),
        threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(auto == hier)
  }

  test("threshold=1.0-ish ball never drops a doc with no duplicate") {
    val singles = Seq(
      (5L, Seq(13L, 1L, 0L, 0L)), (6L, Seq(1L, 13L, 0L, 0L)),
      (7L, Seq(0L, 1L, 13L, 0L)), (8L, Seq(0L, 0L, 1L, 13L)))
      .toDF("doc_id", "embedding")
    val kept = Similarity.semDedup(singles, "doc_id", "embedding", Flat(2),
        threshold = 0.9999)
      .filter(col("kept")).count()
    assert(kept == 4)
  }

  test("shape rules and constructors fail closed, naming the field at fault") {
    def msg(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    // a negative count once took the flat branch at nlist = minNlist
    // (ceil(sqrt(-0.5)) is NaN → 0); a zero cluster size once made the
    // crossover 0 and nlist = max(16, Long.MaxValue).toInt = -1
    assert(msg(CellShape.auto(-1L, 16, 300, 4)).contains("n must be >= 0"))
    assert(msg(CellShape.flat(-1L, 16)).contains("n must be >= 0"))
    assert(msg(CellShape.hier(-1L, 16, 300, 4)).contains("n must be >= 0"))
    assert(msg(CellShape.auto(1000L, 16, 0, 4)).contains("clusterSize must be >= 1"))
    assert(msg(CellShape.hier(1000L, 16, 0, 4)).contains("clusterSize must be >= 1"))
    assert(msg(CellShape.crossoverDocs(0)).contains("clusterSize must be >= 1"))
    assert(msg(CellShape.flat(1000L, 0)).contains("minNlist must be >= 1"))
    assert(msg(CellShape.auto(1000L, -2, 300, 4)).contains("minNlist must be >= 1"))
    assert(msg(CellShape.auto(1000L, 16, 300, 0)).contains("minCoarse must be >= 1"))
    assert(msg(CellShape.hier(1000L, 16, 300, -1)).contains("minCoarse must be >= 1"))
    assert(msg(CellShape.hier(Long.MaxValue, 16, 1, 4)).contains("nlist must be <="))
    assert(msg(Flat(0)).contains("nlist must be >= 1"))
    assert(msg(Hier(0, 1)).contains("nlist must be >= 1"))
    assert(msg(Hier(4, 0)).contains("ncoarse must be >= 1"))
    assert(msg(Hier(4, 5)).contains("ncoarse must be <= nlist"))
    // the boundary values themselves are legal
    assert(CellShape.auto(0L, 1, 1, 1) == Hier(1, 1))
    assert(CellShape.flat(0L, 1) == Flat(1))
  }
}
