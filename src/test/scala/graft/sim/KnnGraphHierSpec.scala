package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Hierarchical cell model (the shipped x63/x65 spelling) contract:
  *
  *  - with ncoarse = 1 the two-level model degenerates to the flat IVF
  *    model EXACTLY (single live coarse cell → the cell-restricted
  *    argmaxes range over the full centroid set, same Knuth seeds, same
  *    floor-mean Lloyd pass, same tiebreaks), so `hierIntModel(nlist, 1)`
  *    must equal `ivfIntModel(nlist)` in refined centroids and
  *    assignment — which is why `knnGraph` runs `Flat(nlist)` as
  *    `Hier(nlist, 1)`;
  *  - with ncoarse > 1 the graph keeps the family invariants: every
  *    corpus vector appears as a query, no self-edges, ranks are dense
  *    from 1 and ordered by (sim DESC, nid ASC).
  */
class KnnGraphHierSpec extends SparkSpec {
  import spark.implicits._

  // deterministic mixed-direction vectors: ids spread across Knuth
  // order, components vary so clusters are non-trivial
  private def emb: DataFrame =
    (0L until 40L).map { i =>
      (i, Seq(100L + (i % 7) * 13L, (i % 5) * 29L, (i % 3) * 41L,
        (i % 11) * 7L))
    }.toDF("doc_id", "embedding")

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSet

  test("ncoarse = 1 degenerates to the flat kNN graph row-for-row") {
    for (nlist <- Seq(2, 5, 8)) {
      val (flatCents, flatAssign) =
        Similarity.ivfIntModel(emb, "doc_id", "embedding", nlist)
      val (hierCents, _, hierAssign, _) =
        Similarity.hierIntModel(emb, "doc_id", "embedding", nlist, ncoarse = 1)
      assert(rows(hierCents, "cid", "fvec") == rows(flatCents, "cid", "cvec"),
        s"refined centroids diverge at nlist=$nlist")
      assert(rows(hierAssign, "nid", "nvec", "cid") ==
        rows(flatAssign, "nid", "nvec", "cid"),
        s"assignment diverges at nlist=$nlist")
    }
  }

  test("ncoarse > 1 keeps the graph invariants") {
    val g = Similarity.knnGraph(emb, "doc_id", "embedding",
      CellShape.Hier(8, 3), nprobe = 2, k = 3).collect()
    val byQ = g.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 40L).toSet,
      "every corpus vector must be a query node")
    assert(g.forall(r => r.getLong(0) != r.getLong(1)), "no self-edges")
    byQ.values.foreach { rows =>
      val ordered = rows.sortBy(_.getLong(3))
      assert(ordered.map(_.getLong(3)).toSeq ==
        (1L to ordered.length).toSeq, "ranks dense from 1")
      val key = ordered.map(r => (-r.getDouble(2), r.getLong(1))).toSeq
      assert(key == key.sorted, "ranked by (sim DESC, nid ASC)")
    }
  }
}
