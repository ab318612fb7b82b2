package graft.sim

import graft.SparkSpec

/** kNN-graph (x63) contract: every corpus vector appears as a query,
  * nearest neighbors rank by exact-integer cosine with the family's
  * (sim DESC, nid ASC) tiebreak, and a node never lists itself. The
  * fixture uses orthogonal-axis groups so within-group cosine is 1.0
  * and cross-group cosine is 0.0 — the expected edges are
  * hand-derivable regardless of how the IVF clustering lands.
  */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  // two axis-aligned triples; nlist=2 puts each axis in its own list
  // under ANY centroid refinement (cosine to a mixed centroid still
  // ranks own-axis higher), nprobe=2 makes the probe set exhaustive so
  // the graph is the EXACT kNN graph and assertions are closed-form
  private def emb = Seq(
    (0L, Seq(100L, 0L, 0L, 0L)),
    (1L, Seq(90L, 0L, 0L, 0L)),
    (2L, Seq(80L, 0L, 0L, 0L)),
    (10L, Seq(0L, 100L, 0L, 0L)),
    (11L, Seq(0L, 90L, 0L, 0L)),
    (12L, Seq(0L, 80L, 0L, 0L)))
    .toDF("doc_id", "embedding")

  test("every node appears with k neighbors, ranked by cosine then id") {
    val out = Similarity.knnGraph(emb, "doc_id", "embedding",
        CellShape.Flat(2), nprobe = 2, k = 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2)))
      }
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L, 12L),
      "every corpus vector must be a query node")
    // within-axis cosine is exactly 1.0, cross-axis 0.0; k=2 returns
    // the two same-axis mates, tie-broken by ascending id
    assert(out(0L).toSeq == Seq((1L, 1.0), (2L, 1.0)))
    assert(out(1L).toSeq == Seq((0L, 1.0), (2L, 1.0)))
    assert(out(2L).toSeq == Seq((0L, 1.0), (1L, 1.0)))
    assert(out(10L).toSeq == Seq((11L, 1.0), (12L, 1.0)))
    assert(out(11L).toSeq == Seq((10L, 1.0), (12L, 1.0)))
    assert(out(12L).toSeq == Seq((10L, 1.0), (11L, 1.0)))
  }

  test("k larger than the candidate pool returns the pool, never self") {
    val out = Similarity.knnGraph(emb, "doc_id", "embedding",
        CellShape.Flat(2), nprobe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall { case (q, n) => q != n }, "no self-edges")
    // exhaustive probes: each node sees all 5 others
    assert(out.groupBy(_._1).forall(_._2.length == 5))
  }
}
