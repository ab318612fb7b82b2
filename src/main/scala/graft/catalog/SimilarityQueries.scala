package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.{CellShape, Similarity}
import graft.multimodal.Multimodal

/** The vector-similarity family: brute, JL, LSH (fixed and auto), PQ
  * and IVF-PQ top-k, embedding near-dup, the integer-IVF index, the kNN
  * graph and semantic dedup, with their recall gates. The IVF / cell
  * shape knobs and the DuckDB assignment-chain builders sit beside the
  * entries that read them.
  */
private[graft] object SimilarityQueries {
  import Shared._

  /** ONE definition site for the exact-integer IVF demo shape (x20i),
    * same desync-proofing as the MinHash constants of
    * [[NearDupQueries]]: the catalog entry and the oracle SQL both
    * interpolate these, so retuning the index (or the fake-embed width
    * shared with x17's oracle CTEs) cannot leave the SQL twin on the
    * old shape.
    */
  private val ivfIntNlist  = 16 // x20i/x53 centroid count
  private val ivfIntNprobe = 2  // x20i probed lists per query
  private val ivfIntK      = 5  // x20i neighbors returned
  private val ivfIntTarget = 40 // x20i fixed-count query-sample size
  private val semHierClusterSize = 300  // x56 target docs per fine cluster
  private val semHierMinCoarse   = 4    // x56 coarse-cell floor
  private val knnHierClusterSize = 100  // x63/x65 target docs per fine cluster
                                        // (scoring = nprobe·cluster per query)
  private val embDim = 64 // `embeddings` width (every ANN, LSH, PQ and JL entry)
  private val annQueryTarget = 40 // fixed-count query-sample size of the ANN top-k and recall entries
  private val annK = 5 // neighbors per query of the ANN top-k and recall entries
  private val lshTables = 8 // hash tables of every LSH entry
  private val lshNbits = 6 // x06/x35 fixed grid, and x85's floor
  private val lshAutoTargetBucket = 256 // x85 max expected docs per LSH bucket
  private val nearDupNbits = 4 // x07/x32/x57/x88 grid
  private val nearDupThreshold = 0.25 // x07/x32/x57/x91 cosine floor
  private val jlOutDim = 16 // x67 JL projected dims (64 → 16: 4× cheaper sims)
  private val jlShortlist = 100 // x68 rerank shortlist per query (recall knob)
  private val jlRecallBound = 0.3 // x68 floor: measured 0.39–0.67 on fixtures
  private val repBucketCap = 256 // x57/x88 per-bucket member cap (pairs ≤ tables·2^nbits·C(cap,2))
  private val repBucketCapTight = 32 // x90/x91 cap sized to ENGAGE at sf0.01 (occupancy ≈125/bucket)

  // ---- the exact-integer IVF model's DuckDB twins ----

  /** The first `nSql` vectors of `vec` in Knuth-spread order as the CTE
    * `name`(`id`, `v`): the twin of `Similarity.knuthSeeds`. `nSql` is
    * SQL text — a literal for the fixed-shape x20i, a scalar subquery
    * for the corpus-adaptive shapes; rn-over-total-order is LIMIT
    * spelled so a subquery bound is legal.
    */
  private def knuthSeedCte(name: String, id: String, v: String, nSql: String): String =
    s"""$name AS (
      |  SELECT $id, $v FROM (
      |    SELECT doc_id AS $id, v AS $v,
      |           row_number() OVER (
      |             ORDER BY ${hashBucketSql("doc_id", Similarity.seedBuckets)} ASC,
      |                      doc_id ASC) AS rn
      |    FROM vec) t WHERE rn <= $nSql)""".stripMargin

  /** The CTE `name`: each row of `from` with the cell (`cid`, `cvec`) of
    * highest integer cosine to its vector `v`, the lower cell id winning
    * ties — the twin of the family's max_by (csim, -cid) argmax. Its
    * columns are `id`, `v` and `cid` without their relation prefixes.
    */
  private def nearestCellCte(name: String, id: String, v: String,
                             cid: String, cvec: String, from: String): String =
    s"""$name AS (
      |  SELECT ${Seq(id, v, cid).map(_.split('.').last).mkString(", ")} FROM (
      |    SELECT $id, $v, $cid,
      |           row_number() OVER (PARTITION BY $id
      |             ORDER BY ${intCosSql(v, cvec)} DESC, $cid ASC) AS rn
      |    FROM $from) t WHERE rn = 1)""".stripMargin

  /** One integer floor-mean Lloyd pass over the assignment `a1`(doc_id,
    * v, cid): `c1p` sums each component per cell and `c1`(cid, `vecAs`)
    * floor-divides — the twin of `Similarity.lloydFloorMean`.
    */
  private def lloydCtes(vecAs: String): String =
    s"""c1p AS (
      |  SELECT cid, u.j AS pos, sum(v[CAST(u.j + 1 AS INT)]) AS sv,
      |         count(*) AS cnt
      |  FROM a1, UNNEST(range($fakeEmbedDim)) AS u(j)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(sv // cnt ORDER BY pos) AS $vecAs
      |       FROM c1p GROUP BY cid)""".stripMargin

  /** The exact-integer IVF model as DuckDB CTEs (`b acc vec c0 a1 c1p
    * c1 a2`): byte-sum embeds, Knuth-spread init, one integer
    * floor-mean Lloyd pass, final assignment — the SQL twin of
    * `Similarity.ivfIntModel`, shared by the x20i (IVF top-k) and x53
    * (semantic dedup) oracles so the two cannot drift. `a2` is
    * (doc_id, v, cid); `nlistSql` is the centroid count as SQL text.
    */
  private def ivfIntAssignCtes(nlistSql: String): String =
    s"""$intEmbedVecCtes,
      |${knuthSeedCte("c0", "cid", "cvec", nlistSql)},
      |${nearestCellCte("a1", "vec.doc_id", "vec.v", "c0.cid", "c0.cvec", "vec, c0")},
      |${lloydCtes("cvec")},
      |${nearestCellCte("a2", "vec.doc_id", "vec.v", "c1.cid", "c1.cvec", "vec, c1")}""".stripMargin

  /** The TWO-LEVEL cell-model CTE chain (`fs cs fcs live csl vcell a1
    * c1p c1 c1c a2`) — the DuckDB twin of `Similarity.hierIntModel`,
    * shared by the x56 dedup oracle and the x63/x65 kNN-graph oracles so
    * the hierarchical replays cannot drift. `vcell` is (doc_id, v,
    * ccid), `c1c` the refined fine centroids with their inherited
    * coarse cell, `a2` the final cell-restricted assignment (doc_id, v,
    * cid). The bounds are the constant-cluster-size shape at
    * `clusterSize` ([[hierNlistSql]]).
    */
  private def hierAssignCtes(clusterSize: Int): String =
    s"""$intEmbedVecCtes,
      |${knuthSeedCte("fs", "cid", "fvec", hierNlistSql(clusterSize))},
      |${knuthSeedCte("cs", "ccid", "cvec", hierNcoarseSql(clusterSize))},
      |${nearestCellCte("fcs", "fs.cid", "fs.fvec", "cs.ccid", "cs.cvec", "fs, cs")},
      |live AS (SELECT DISTINCT ccid FROM fcs),
      |csl AS (SELECT cs.ccid, cs.cvec FROM cs JOIN live USING (ccid)),
      |${nearestCellCte("vcell", "vec.doc_id", "vec.v", "csl.ccid", "csl.cvec", "vec, csl")},
      |${nearestCellCte("a1", "vcell.doc_id", "vcell.v", "fcs.cid", "fcs.fvec",
           "vcell JOIN fcs ON fcs.ccid = vcell.ccid")},
      |${lloydCtes("fvec")},
      |c1c AS (SELECT c1.cid, c1.fvec, fcs.ccid
      |        FROM c1 JOIN fcs ON fcs.cid = c1.cid),
      |${nearestCellCte("a2", "vcell.doc_id", "vcell.v", "c1c.cid", "c1c.fvec",
           "vcell JOIN c1c ON c1c.ccid = vcell.ccid")}""".stripMargin

  /** The constant-cluster-size hierarchical shape bounds as DuckDB
    * scalar subqueries — ONE spelling shared by the x56 and x63/x65
    * oracles (the catalog entries compute the identical IEEE ceil/sqrt
    * sequences driver-side: nlist = max(minNlist, ceil(n/clusterSize)),
    * ncoarse = max(minCoarse, ceil(sqrt(nlist)))). Parameterized on the
    * target cluster size because the two families tune it differently:
    * dedup (x56) amortizes a one-off Σ n_c² pair stage, while the kNN
    * graph (x63/x65) pays nprobe·clusterSize SCORED candidates per
    * query, so it targets a smaller cell.
    */
  private def hierNlistExpr(clusterSize: Int): String =
    s"greatest($ivfIntNlist, CAST(ceil(count(*) / $clusterSize.0) AS BIGINT))"

  private def hierNlistSql(clusterSize: Int): String =
    s"(SELECT ${hierNlistExpr(clusterSize)} FROM documents)"

  private def hierNcoarseSql(clusterSize: Int): String =
    s"(SELECT greatest($semHierMinCoarse, CAST(ceil(sqrt(CAST(${hierNlistExpr(clusterSize)} AS DOUBLE))) AS BIGINT)) FROM documents)"

  /** The integer-IVF query tail over `ps`(qid, qvec, cid, csim): `pr`
    * keeps each query's [[ivfIntNprobe]] nearest cells, `sc` scores the
    * `a2` members of those cells, and the top-[[ivfIntK]] tail ranks
    * them — x20i's and the kNN graph's spelling.
    */
  private lazy val ivfIntProbeTail: String =
    s"""pr AS (
      |  SELECT qid, qvec, cid FROM (
      |    SELECT qid, qvec, cid,
      |           row_number() OVER (PARTITION BY qid
      |                              ORDER BY csim DESC, cid ASC) AS rn
      |    FROM ps) t WHERE rn <= $ivfIntNprobe),
      |sc AS (
      |  SELECT pr.qid, a2.doc_id AS nid,
      |         round(${intCosSql("pr.qvec", "a2.v")}, 6) AS sim
      |  FROM pr JOIN a2 ON a2.cid = pr.cid AND a2.doc_id <> pr.qid),
      |${topKTailSql("sc", ivfIntK)}""".stripMargin

  /** The integer fake embeds of the corpus (x20i and the cell-model
    * family), pinned and filled once (`Similarity.filledPin`): every
    * integer-IVF model reads them several times before its checkpoint
    * pins the assignment, and `ivfIntModel`'s first plan scans them
    * twice (the seed pick and the first assignment).
    */
  private def intEmbeds(s: SparkSession, d: String): DataFrame =
    Similarity.filledPin(Multimodal.fakeEmbedInt(s,
      Multimodal.withPayload(docs(s, d), "doc_id", "text"),
      dim = fakeEmbedDim).toDF())

  /** x63/x65's kNN-graph shape: the constant-cluster-size two-level
    * rule at [[knnHierClusterSize]], from one eager corpus count.
    */
  private def knnShape(s: SparkSession, d: String): CellShape =
    CellShape.hier(docs(s, d).count(), ivfIntNlist, knnHierClusterSize,
      semHierMinCoarse)

  // kNN-graph replay (x63, nested by x65): the HIERARCHICAL assignment
  // chain (shared with x56 via hierAssignCtes) with probes ranked INSIDE
  // each vector's coarse cell (vcell ⋈ c1c on ccid — the cell-restricted
  // trade Similarity.knnGraph makes), then x20i's probe/score/rank tail
  private lazy val knnGraphHierOracleSql: String =
    s"""WITH ${hierAssignCtes(knnHierClusterSize)},
      |ps AS (
      |  SELECT vcell.doc_id AS qid, vcell.v AS qvec, c1c.cid,
      |         ${intCosSql("vcell.v", "c1c.fvec")} AS csim
      |  FROM vcell JOIN c1c ON c1c.ccid = vcell.ccid),
      |$ivfIntProbeTail""".stripMargin

  /** The SemDeDup oracle over an assignment chain ending in `a2`
    * (doc_id, v, cid): a doc is dropped iff a lower-id cluster-mate
    * reaches [[semDedupThreshold]] (round-6dp, the proven cross-engine
    * float-compare idiom). x53 (flat, x59's below-crossover branch)
    * and x56 (hierarchical, x59's at-or-above-crossover branch).
    */
  private def semDedupOracle(assignCtes: String): String =
    s"""WITH $assignCtes,
      |drops AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND b.doc_id < a.doc_id
      |  WHERE round(${intCosSql("a.v", "b.v")}, 6) >= $semDedupThreshold)
      |SELECT a2.doc_id, a2.cid, (d.doc_id IS NULL) AS kept
      |FROM a2 LEFT JOIN drops d ON d.doc_id = a2.doc_id""".stripMargin

  /** Flat SemDeDup: the x20i assignment CTEs at the corpus-adaptive
    * √(n/2) nlist bound.
    */
  private lazy val semDedupFlatOracleSql: String = semDedupOracle(ivfIntAssignCtes(
    s"(SELECT greatest($ivfIntNlist, CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT)) FROM documents)"))

  private lazy val semDedupHierOracleSql: String =
    semDedupOracle(hierAssignCtes(semHierClusterSize))

  /** x59's branch predicate bound — the corpus size where
    * `CellShape.auto` switches to the two-level shape — interpolated
    * into the oracle's WHERE predicates.
    */
  private lazy val semHierCrossoverDocs: Long =
    CellShape.crossoverDocs(semHierClusterSize)

  // ---- the float-vector twins: JL projection, LSH planes and bands ----

  /** DuckDB twin of `Similarity.jlProject` over a DOUBLE[] column `v`:
    * each projected component is the explicit left-associated ±v[i]
    * chain — multiplying by ±1.0 and adding (Spark) vs negating and
    * adding/subtracting (SQL) are the same exact IEEE ops, so the
    * projected doubles are bit-equal. Signs come from the SAME
    * `jlSign` pure function the Spark plan uses — generated here,
    * never hand-written.
    */
  private def jlProjectSqlList(v: String, dim: Int, r: Int): String =
    (0 until r).map { t =>
      (0 until dim).map { i =>
        val s = graft.sim.Similarity.jlSign(t, i)
        if (i == 0) { if (s > 0) s"$v[1]" else s"-$v[1]" }
        else { if (s > 0) s" + $v[${i + 1}]" else s" - $v[${i + 1}]" }
      }.mkString
    }.mkString("[", ", ", "]")

  /** DuckDB twin of `Similarity.lshBucket`'s hyperplanes: the CTE
    * `planes`(t, b, plane) of [[lshTables]] tables × `nbits` planes over
    * [[embDim]] components. The splitmix64 plane constants are pure
    * functions of (bit, component), so their exact double values are
    * interpolated as literal arrays (generated HERE, not hand-written)
    * — DuckDB recomputes the same sign-bit buckets from the same
    * planes, which is what lets the LSH candidate sets (x06/x07) be
    * hash-compared instead of rows-only. Shortest-round-trip double
    * formatting re-parses to the identical bits in any correct reader.
    */
  private def lshPlanesCte(nbits: Int): String = {
    val rows = (0 until lshTables).flatMap { t =>
      (0 until nbits).map { b =>
        val arr = (0 until embDim)
          .map(i => graft.sim.Similarity.planeConst(t * nbits + b, i))
          .mkString("[", ", ", "]")
        s"($t, $b, $arr::DOUBLE[])"
      }
    }
    s"planes(t, b, plane) AS (VALUES ${rows.mkString(", ")})"
  }

  /** Twin of `Similarity.lshBucket` per table: the CTE `name`(vec_id, t,
    * bucket) of `v`'s sign-bit buckets against `planes`.
    */
  private def lshBandsCte(name: String): String =
    s"""$name AS (
      |  SELECT vec_id, t,
      |         bit_or(CASE WHEN list_dot_product(vec, plane) > 0
      |                     THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bucket
      |  FROM v, planes GROUP BY vec_id, t)""".stripMargin

  /** The LSH pair verify over `bands` and `v`: `cand`(id_a, id_b)
    * shares a bucket in some table, `scored` adds their 6dp cosine.
    */
  private val lshPairCtes: String =
    s"""cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bands a JOIN bands b ON a.t = b.t AND a.bucket = b.bucket
      |                            AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |         round(list_cosine_similarity(va.vec, vb.vec), 6) AS sim
      |  FROM cand c
      |  JOIN v va ON va.vec_id = c.id_a
      |  JOIN v vb ON vb.vec_id = c.id_b)""".stripMargin

  /** The fixed-count query sample of the ANN entries over
    * `embeddings`, as SQL.
    */
  private lazy val annQueriesSql: String =
    fixedCountPredSql("embeddings", "vec_id", annQueryTarget)

  /** The LSH top-k oracle chain at a given nbits: candidate generation
    * from the interpolated plane literals, exact rescoring, rank. ONE
    * spelling shared by the fixed x06 oracle and every x85 auto branch,
    * so the fixed and auto replays cannot drift.
    */
  private def lshTopKOracleChain(nbits: Int): String =
    s"""WITH ${lshPlanesCte(nbits)},
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |${lshBandsCte("bands")},
      |q AS (SELECT vec_id AS qid FROM embeddings
      |      WHERE $annQueriesSql),
      |qb AS (SELECT q.qid, bb.t, bb.bucket
      |       FROM bands bb JOIN q ON q.qid = bb.vec_id),
      |cand AS (
      |  SELECT DISTINCT qb.qid, n.vec_id AS nid
      |  FROM qb JOIN bands n ON n.t = qb.t AND n.bucket = qb.bucket
      |                       AND n.vec_id <> qb.qid),
      |scored AS (
      |  SELECT c.qid, c.nid,
      |         round(list_cosine_similarity(vq.vec, vn.vec), 6) AS sim
      |  FROM cand c
      |  JOIN v vq ON vq.vec_id = c.qid
      |  JOIN v vn ON vn.vec_id = c.nid),
      |${topKTailSql("scored", annK)}""".stripMargin

  /** The representative banding x57/x91 and x88/x90 share: `g` collapses
    * identical vectors to their min-id rep with its multiplicity, `v`
    * holds the reps, `bands0` their uncapped buckets.
    */
  private lazy val repBandCtes: String =
    s"""${lshPlanesCte(nearDupNbits)},
      |g AS (
      |  SELECT min(vec_id) AS rep_id, count(*)::BIGINT AS n_members,
      |         embedding AS vec0
      |  FROM embeddings GROUP BY embedding),
      |v AS (SELECT rep_id AS vec_id, vec0::DOUBLE[] AS vec FROM g),
      |${lshBandsCte("bands0")}""".stripMargin

  /** The x57 reps-near-dup oracle parameterized by the per-bucket
    * member cap — ONE text for the loose (x57, never engages at sf
    * scale) and tight (x91, engages on most buckets at sf0.01)
    * spellings, so the two entries cannot drift. Rep collapse (min-id
    * per identical vector), literal-plane banding, the row_number ≤ cap
    * kept-member rule, exact cosine verify, implied cross-twin counts.
    */
  private def nearDupRepsOracle(cap: Int): String =
    s"""WITH $repBandCtes,
      |bands AS (
      |  SELECT vec_id, t, bucket FROM (
      |    SELECT vec_id, t, bucket,
      |           row_number() OVER (PARTITION BY t, bucket
      |                              ORDER BY vec_id ASC) AS __rn
      |    FROM bands0) WHERE __rn <= $cap),
      |$lshPairCtes
      |SELECT s.id_a, s.id_b, s.sim,
      |       ga.n_members * gb.n_members AS implied_pairs
      |FROM scored s
      |JOIN g ga ON ga.rep_id = s.id_a
      |JOIN g gb ON gb.rep_id = s.id_b
      |WHERE s.sim >= $nearDupThreshold""".stripMargin

  /** The bucket-load truncation report parameterized the same way
    * (x88 loose / x90 tight).
    */
  private def nearDupBucketLoadOracle(cap: Int): String =
    s"""WITH $repBandCtes
      |SELECT t AS table_id, bucket, count(*)::BIGINT AS n_ids,
      |       least(count(*), $cap)::BIGINT AS n_kept
      |FROM bands0 GROUP BY t, bucket""".stripMargin

  /** x88/x90's Spark side: the bucket-load report over the min-id
    * representative of each distinct embedding, at member cap `cap`.
    */
  private def nearDupBucketLoad(s: SparkSession, d: String, cap: Int): DataFrame = {
    val reps = Tables.embeddings(s, d).groupBy(col("embedding").as("__vec"))
      .agg(min(col("vec_id")).as("rep_id"))
      .select(col("rep_id"), col("__vec").as("embedding"))
    Similarity.nearDupBucketLoad(reps, "rep_id", "embedding",
      dim = embDim, nbits = nearDupNbits, tables = lshTables, bucketCap = cap)
  }

  /** An ANN recall gate (x27, x35, x47, x49, x68): the fixed-count
    * query sample, brute `cosineTopK` truth at [[annK]], and
    * [[recallGate]] of `ann`'s (qid, nid) at `bound`, reported as
    * `okCol`. `ann` gets the embeddings and the query predicate.
    */
  private def annRecall(name: String, bound: Double, okCol: String)(
      ann: (DataFrame, Column) => DataFrame): Entry =
    Entry(name, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qp = fixedCountPred(emb, "vec_id", annQueryTarget)
      val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", qp, k = annK)
        .select("qid", "nid")
      recallGate(brute, ann(emb, qp).select("qid", "nid"), Seq("qid", "nid"),
        bound, Some(emb.filter(qp)), okCol)
    }, Sql(
      s"""SELECT count(*) AS n_queries, TRUE AS $okCol
         |FROM embeddings
         |WHERE $annQueriesSql""".stripMargin))

  val entries: Seq[Entry] = Seq(
    // ---- north-star extensions: similarity search ----
    // Query sets for the ANN family are FIXED-COUNT samples, not corpus
    // fractions: an ANN workload is "Q queries against an N-vector
    // index" — Q does not grow with N, and a modulo predicate (the
    // round-4 spelling) made every one of these quadratic at the 10×
    // probe (x06 measured 19× wall for 10× data; ~2× after this change)
    Entry("x05_cosine_topk", (s, d) =>
      Similarity.cosineTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", annQueryTarget), k = annK), Sql(
      s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE $annQueriesSql),
        |s AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |         round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS sim
        |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
        |${topKTailSql("s", annK)}""".stripMargin)),
    // Johnson-Lindenstrauss compressed-space top-k: deterministic ±1
    // (Achlioptas) projection 64 → 16 dims as pure column arithmetic in
    // the scan stage, then x05's brute shape over the projected vectors
    // — each similarity costs r/dim of the exact one. Project once at
    // ingest, run every ANN/dedup pass compressed: the 100 TB lever.
    // Signs are splitmix-derived pure functions, so the oracle rebuilds
    // the identical matrix and the projected top-k is hash-checked;
    // quality vs exact space is gated by x68, not assumed
    // Oracle:
    // JL replay: rebuild the projected vectors from the interpolated
    // sign chains (bit-equal doubles — see jlProjectSqlList), then x05's
    // brute chain over the compressed space
    Entry("x67_jl_topk", (s, d) =>
      Similarity.cosineTopKJl(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", annQueryTarget),
        dim = embDim, r = jlOutDim, k = annK), Sql(
      s"""WITH pv AS (
        |  SELECT vec_id, ${jlProjectSqlList("v", embDim, jlOutDim)} AS p
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) t0),
        |q AS (SELECT vec_id AS qid, p AS qvec FROM pv
        |      WHERE $annQueriesSql),
        |s AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |         round(list_cosine_similarity(q.qvec, e.p), 6) AS sim
        |  FROM q, pv e WHERE e.vec_id <> q.qid),
        |${topKTailSql("s", annK)}""".stripMargin)),
    // 8 hash tables: single-table bucketing recalls only ~7-10% of the
    // true top-5 on these near-uniform vectors; 8 tables reach ~35-48%
    // (gated by x35) at linear extra cost — the production LSH-ANN shape
    // Oracle:
    // bucketed LSH-ANN: DuckDB rebuilds the SAME hyperplane buckets from
    // the interpolated plane literals (lshPlanesCte), so the
    // candidate set — not just the scoring — is cross-engine-checked
    Entry("x06_cosine_lsh", (s, d) =>
      Similarity.cosineTopKLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", annQueryTarget),
        dim = embDim, k = annK, nbits = lshNbits, tables = lshTables),
      Sql(lshTopKOracleChain(lshNbits))),
    // AUTO-shaped LSH ANN — x06's production spelling: nbits grows
    // with the corpus (smallest b >= 6 with n <= 256·2^b, pure integer
    // compares) so bucket occupancy and per-query candidate work stay
    // FLAT instead of linear at a fixed grid. The oracle replays the
    // branch rule as count-range predicates over the shared x06 chain
    // (the x59 pattern); the rule itself is spec-pinned across the
    // bench-only deeper grids (LshAutoSpec)
    // Oracle:
    // AUTO-shaped LSH replay: the SAME chain per admissible nbits
    // branch, each behind the integer count-range predicate of the
    // lshAutoNbits rule (the x59 pattern). Shipped sf dirs land on the
    // nbits=6 branch, the 10x corpus on 7; deeper (bench-only) grids
    // are spec-pinned rather than enumerated as ever-larger plane
    // literal sets. The terminal branch ERRORS (DuckDB error()) when
    // the corpus outgrows the enumerated grids: without it, a verify
    // at 100x/1000x (where lshAutoNbits picks 10/13) would compare the
    // live result against an EMPTY truth set and report a generic row
    // mismatch instead of "oracle branch not enumerated" (ADVICE r11).
    // The error argument references the count column, so constant
    // folding cannot evaluate it when the branch is empty.
    Entry("x85_lsh_auto", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.cosineTopKLshAuto(emb, "vec_id", "embedding",
        fixedCountPred(emb, "vec_id", annQueryTarget), dim = embDim,
        n = emb.count(), k = annK, targetBucket = lshAutoTargetBucket,
        minNbits = lshNbits, tables = lshTables)
    }, Sql({
      val b6Max = lshAutoTargetBucket.toLong << lshNbits
      val b7Max = lshAutoTargetBucket.toLong << (lshNbits + 1)
      s"""SELECT qid, nid, sim, rnk FROM (${lshTopKOracleChain(lshNbits)}) b6
        |WHERE (SELECT count(*) FROM embeddings) <= $b6Max
        |UNION ALL
        |SELECT qid, nid, sim, rnk FROM (${lshTopKOracleChain(lshNbits + 1)}) b7
        |WHERE (SELECT count(*) FROM embeddings) > $b6Max
        |  AND (SELECT count(*) FROM embeddings) <= $b7Max
        |UNION ALL
        |SELECT CAST(error('x85 oracle: corpus of ' || n || ' embeddings exceeds the enumerated lsh nbits branches (max ${b7Max})') AS BIGINT) AS qid,
        |       0::BIGINT AS nid, 0.0::DOUBLE AS sim, 0::BIGINT AS rnk
        |FROM (SELECT count(*) AS n FROM embeddings) g WHERE n > $b7Max""".stripMargin
    })),
    // recall gate for the bucketed ANN (x06's configuration) vs in-plan
    // brute force — same literal-TRUE-oracle pattern as x27. The gate's
    // query set is a FIXED-COUNT sample (~40 queries at any sf, same
    // rule as x06 itself), so the brute truth pass stays linear in
    // corpus size
    annRecall("x35_lsh_ann_recall", 0.2, "recall_ok")((emb, qp) =>
      Similarity.cosineTopKLsh(emb, "vec_id", "embedding", qp, dim = embDim,
        k = annK, nbits = lshNbits, tables = lshTables)),
    // recall gate for the product-quantization path: PQ-ADC shortlist +
    // exact rerank vs in-plan brute force. PQ codes depend on Lloyd
    // means (float-order sensitive), so the output pins the recall
    // BOUND and the cross-engine query count, never the code values —
    // the x27/x35 pattern. Measured recall@5 at the defaults: 1.0 at
    // sf0.01, 0.945 at sf0.1 — the 0.7 gate has real margin, and a
    // codebook regression (bad init, broken ADC table order, subspace
    // misalignment) collapses straight through it
    // (the fixed-count query sample keeps the truth pass O(queries ·
    // corpus) — linear in corpus — where the old modulo predicate
    // measured 5.7× wall at 10×, PLANS.md)
    annRecall("x47_pq_recall", 0.7, "recall_ok")((emb, qp) =>
      Similarity.cosineTopKPq(emb, "vec_id", "embedding", qp, dim = embDim,
        m = 16, ksub = 32, shortlist = 100, k = annK)),
    // recall gate for the IVF-PQ composition — the production index
    // shape: coarse lists prune WHICH vectors are scored, PQ codes
    // compress WHAT is scored, rerank restores precision. Probing half
    // the lists measured recall@5 0.78 / 0.73 at sf0.01 / sf0.1; the
    // 0.5 gate matches the IVF-flat convention (x27) and catches a
    // regression in either stage or in their composition
    annRecall("x49_ivfpq_recall", 0.5, "recall_ok")((emb, qp) =>
      Similarity.cosineTopKIvfPq(emb, "vec_id", "embedding", qp, dim = embDim,
        nlist = 16, nprobe = 8, m = 16, ksub = 32, shortlist = 100, k = annK)),
    // multi-table LSH (8 tables × 4 hyperplanes): single-table recall at
    // this threshold is ~4-11% (measured) — the multi-table profile lifts
    // it to ~65-74% at linear extra cost, gated by x32
    // Oracle:
    // embedding near-dup: same literal-plane rebuild (nbits=4, 8 tables),
    // then the exact verify-filter over the LSH candidate pairs
    Entry("x07_embedding_neardup", (s, d) =>
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = embDim, threshold = nearDupThreshold, nbits = nearDupNbits,
        tables = lshTables), Sql(
      s"""WITH ${lshPlanesCte(nearDupNbits)},
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |${lshBandsCte("bands")},
        |$lshPairCtes
        |SELECT id_a, id_b, sim FROM scored WHERE sim >= $nearDupThreshold""".stripMargin)),
    // x07's production composition for dup-heavy corpora: collapse
    // byte-identical vectors first (one hash groupBy), near-dup over
    // representatives, multiplicities carried as implied_pairs — the
    // candidate stage is bounded by DISTINCT vectors, so the twin-dense
    // scaled corpora that make x07 output-quadratic leave x57 flat.
    // bucketCap (round 14): clustered GEOMETRY still made the true pair
    // set quadratic (v2-500k: ~1.6e11 rows, failed by spill) — the
    // per-bucket member cap bounds output to tables·2^nbits·C(cap,2)
    // whatever the corpus looks like; truncation is reported per bucket
    // by x88, and the cap never engages on the shipped sf corpora
    // (≤2000 distinct vectors ⇒ occupancy ≈125 « 256)
    // Oracle:
    // representative composition: identical-vector groups (min-id rep +
    // multiplicity), then the SAME literal-plane LSH over reps only
    // with the per-bucket member cap replayed (row_number ≤ cap, id
    // ASC — never engages at oracle scale but the RULE is what's
    // checked), implied cross-twin pair counts on the way out
    Entry("x57_embed_neardup_reps", (s, d) =>
      Similarity.embeddingNearDupReps(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = embDim, threshold = nearDupThreshold,
        nbits = nearDupNbits, tables = lshTables,
        bucketCap = Some(repBucketCap)), Sql(nearDupRepsOracle(repBucketCap))),
    // the no-silent-caps companion of x57: per-(table, bucket) rep
    // occupancy with the kept count under the member cap — where the
    // cap engages at scale, n_kept < n_ids IS the truncation report,
    // hash-checked like any other query (same rep collapse + literal-
    // plane banding as x57, one linear aggregate)
    // Oracle:
    // x57's truncation report: the same rep collapse + banding, one
    // occupancy aggregate, n_kept = least(n_ids, cap)
    Entry("x88_neardup_bucket_load", (s, d) => nearDupBucketLoad(s, d, repBucketCap),
      Sql(nearDupBucketLoadOracle(repBucketCap))),
    // the report with the cap ENGAGED (round-14 verdict item 6: the
    // sf0.01 replay of x88 never truncates — occupancy ≈125 « 256 —
    // so the engaged path was only spec-covered): at cap=32 most
    // buckets truncate and the n_kept < n_ids quantity is hash-checked
    // by the DuckDB oracle, not just by NearDupCapSpec's synthetic
    // corpus
    // Oracle:
    // the report with the cap ENGAGED at sf0.01: n_kept < n_ids on
    // most rows — the literal truncation quantity is hash-checked
    Entry("x90_neardup_bucket_load_tight",
      (s, d) => nearDupBucketLoad(s, d, repBucketCapTight),
      Sql(nearDupBucketLoadOracle(repBucketCapTight))),
    // x57 with the cap ENGAGED: the deterministic kept-member SELECTION
    // (lowest cap ids per bucket) — not just the count — feeds the pair
    // join and is pinned by the hash compare against the same-rule
    // DuckDB twin
    // Oracle:
    // the cap rule ENGAGED: same oracle text at the tight cap — at
    // sf0.01 occupancy (~125 reps/bucket) row_number ≤ 32 truncates
    // most buckets, so the kept-member SELECTION itself is what the
    // hash compare pins (round-14 verdict: the engaged path was only
    // spec-covered, never DuckDB-oracle-covered)
    Entry("x91_neardup_reps_tight", (s, d) =>
      Similarity.embeddingNearDupReps(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = embDim, threshold = nearDupThreshold,
        nbits = nearDupNbits, tables = lshTables,
        bucketCap = Some(repBucketCapTight)),
      Sql(nearDupRepsOracle(repBucketCapTight))),
    // near-dup recall gate over a 1-in-10 sample: brute-force pairs are
    // exactly oracle-checkable (DuckDB computes the same cosine), and the
    // in-plan recall bound turns an LSH regression into a hash failure
    Entry("x32_embed_neardup_recall", (s, d) => {
      // FIXED-COUNT vector sample (~200 at any corpus size), not a
      // proportional one: the gate's truth side is a brute all-pairs
      // cosine join over the sample, so a %-of-corpus sample makes the
      // gate quadratic in corpus size (measured 70.4s at 100×; the 1000×
      // corpus would brute-force 2e10 pairs). ~200 vectors is exactly
      // the statistical power the gate had at sf0.1 under the old %10
      // spelling, now at EVERY scale — same fix class as x83's
      // fixed-count eval ball (round 9)
      val sample = Tables.embeddings(s, d)
        .filter(fixedCountPred(Tables.embeddings(s, d), "vec_id",
          target = 200))
      val lsh = Similarity.embeddingNearDupPairs(sample, "vec_id", "embedding",
        dim = embDim, threshold = nearDupThreshold, nbits = nearDupNbits,
        tables = lshTables)
        .select("id_a", "id_b")
      val v = sample.select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val brute = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          round(Similarity.cosine(col("a.vec"), col("b.vec")), 6).as("sim"))
        .filter(col("sim") >= nearDupThreshold)
        .select("id_a", "id_b")
      recallGate(brute, lsh, Seq("id_a", "id_b"), 0.5)
    }, Sql(
      s"""WITH v AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec
        |  FROM embeddings
        |  WHERE ${fixedCountPredSql("embeddings", "vec_id", 200)})
        |SELECT count(*) AS n_pairs, TRUE AS recall_ok
        |FROM v a JOIN v b ON a.id < b.id
        |WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= $nearDupThreshold""".stripMargin)),
    Entry("x20_cosine_ivf", (s, d) =>
      Similarity.cosineTopKIvf(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", annQueryTarget),
        nlist = 16, nprobe = 2, k = annK), RowsOnly),
    // ANN quality gate: IVF mean recall@5 against in-plan brute force —
    // the oracle expects literal TRUE, so a probe/centroid regression
    // that tanks recall fails the hash gate instead of hiding in
    // rows-only. Corpus-level mean (the standard ANN metric — individual
    // queries near list boundaries legitimately dip); nprobe=4 with one
    // Lloyd pass clears 0.5 with margin, while the benchmarked x20 keeps
    // the faster nprobe=2 profile
    annRecall("x27_ann_recall", 0.5, "mean_recall_ok")((emb, qp) =>
      Similarity.cosineTopKIvf(emb, "vec_id", "embedding", qp, nlist = 16,
        nprobe = 4, k = annK)),
    // recall gate for the two-stage JL pipeline (shortlist in projected
    // space, exact rerank — the production composition) vs exact-space
    // brute force — same literal-TRUE-oracle pattern and ANSI
    // zero-branch as x27. Measured on the near-uniform fixtures (the
    // deliberately hard case): 0.39 (sf0.1) – 0.67 (sf0.01) at
    // shortlist=100, vs 0.09 for raw projected top-5 — the 0.3 floor is
    // the x35-family honest band, and `shortlist` is the recall knob
    annRecall("x68_jl_recall", jlRecallBound, "mean_recall_ok")((emb, qp) =>
      Similarity.cosineTopKJlRerank(emb, "vec_id", "embedding", qp, dim = embDim,
        r = jlOutDim, shortlist = jlShortlist, k = annK)),
    // EXACT-INTEGER IVF (hash-green variant of the x20 family): float
    // k-means sums doubles in partition order, so x20's centroids — and
    // therefore its assignment — can never be SQL-reproduced (the one
    // rows-only residue). This entry runs the same IVF shape on the
    // integer fake embeds with a portable Knuth-spread init, integer-sum
    // / floor-mean Lloyd update, and cosine built from exact-integer
    // dots — every arithmetic step is either exact integer math or a
    // fixed sequence of IEEE ops, so the DuckDB twin rebuilds init,
    // refinement, assignment, probes, and the final top-k byte-for-byte.
    // x20 (float path, x27-gated) stays as the production spelling for
    // real float embeddings; this is the determinism proof.
    // Oracle:
    // full IVF replay in SQL: integer byte-sum embeds (x17's CTEs),
    // Knuth-spread init, one integer floor-mean Lloyd pass, assignment /
    // probes / final top-k all via intCosSql — exact integers plus fixed
    // IEEE op sequences, so every stage is byte-identical to the Spark
    // plan (see Similarity.cosineTopKIvfInt)
    Entry("x20i_ivf_int", (s, d) =>
      Similarity.cosineTopKIvfInt(intEmbeds(s, d), "doc_id", "embedding",
        fixedCountPred(docs(s, d), "doc_id", target = ivfIntTarget),
        nlist = ivfIntNlist, nprobe = ivfIntNprobe, k = ivfIntK), Sql(
      s"""WITH ${ivfIntAssignCtes(ivfIntNlist.toString)},
        |q AS (SELECT doc_id AS qid, v AS qvec FROM vec
        |      WHERE ${fixedCountPredSql("documents", "doc_id", ivfIntTarget)}),
        |ps AS (
        |  SELECT q.qid, q.qvec, c1.cid, ${intCosSql("q.qvec", "c1.cvec")} AS csim
        |  FROM q, c1),
        |$ivfIntProbeTail""".stripMargin)),
    // kNN-GRAPH construction: every vector of the corpus gets its top-k
    // approximate neighbors from the shared TWO-LEVEL exact-integer
    // cell model (x56's hierarchical assignment — ~n^1.25 instead of
    // the flat n·nlist crossJoin's n^1.5) — the input of graph-based
    // curation (near-dup components over embeddings, diversity
    // sampling). All-queries shape: shuffle equi-join on cid (probes
    // are corpus-sized, never broadcast); constant-cluster-size
    // schedule (knnHierClusterSize — smaller than x56's: every query
    // SCORES nprobe·cluster candidates) keeps candidate scoring linear;
    // assignment checkpoint-pinned
    // Oracle:
    // kNN-graph replay: the HIERARCHICAL two-level chain (assignment
    // CTEs shared verbatim with x56), probes ranked inside each
    // vector's coarse cell, then x20i's probe/score/rank spellings —
    // the integer-IVF oracles cannot drift apart
    Entry("x63_knn_graph", (s, d) =>
      Similarity.knnGraph(intEmbeds(s, d), "doc_id", "embedding",
        knnShape(s, d), nprobe = ivfIntNprobe, k = ivfIntK),
      Sql(knnGraphHierOracleSql)),
    // mutual-kNN communities over x63's graph: sim-thresholded directed
    // edges → mutual-pair symmetrization (one self-semi-join on the
    // reversed key — kills hub chains) → the shared log-diameter CC
    // fold. The cluster assignment graph-based curation consumes;
    // oracle = x63's full replay nested under the x22 recursive-CTE
    // component closure
    // Oracle:
    // mutual-kNN communities: x63's full hierarchical kNN replay as a
    // nested subquery-CTE, thresholded, symmetrized by the reversed-key
    // self-join, closed by the x22 recursive component fold
    Entry("x65_knn_communities", (s, d) =>
      Similarity.mutualKnnClusters(
        Similarity.knnGraph(intEmbeds(s, d), "doc_id", "embedding",
          knnShape(s, d), nprobe = ivfIntNprobe, k = ivfIntK),
        threshold = semDedupThreshold), Sql(
      // outer CTE names are cc_-prefixed: the nested replay has its own
      // WITH chain (fs/cs/.../a2/ps/pr/sc/r), and an outer name reusing
      // one of those would SHADOW it inside the subquery (observed:
      // outer `r` caught the inner final SELECT's `FROM r`)
      s"""WITH RECURSIVE cc_e0 AS (
        |  SELECT qid, nid FROM ($knnGraphHierOracleSql) g
        |  WHERE sim >= $semDedupThreshold),
        |cc_m AS (
        |  SELECT a.qid AS doc_a, a.nid AS doc_b
        |  FROM cc_e0 a JOIN cc_e0 b ON a.qid = b.nid AND a.nid = b.qid
        |  WHERE a.qid < a.nid),
        |${componentsSql("cc_m")}""".stripMargin)),
    // SEMANTIC dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    // integer fake embeds (the shared x20i model), then drop every doc
    // with a lower-id cluster-mate inside the cosine epsilon ball —
    // dedup by MEANING-proxy, no text comparison. Same-cluster pair
    // join only (Σ n_c², never corpus²); at real scale nlist grows with
    // the corpus so cluster size — and pair work per row — stays flat
    // Oracle:
    // SemDeDup replay: the SAME shared assignment CTEs as x20i, then
    // the within-cluster epsilon-ball drop rule — a doc is dropped iff
    // a lower-id cluster-mate reaches the cosine threshold (round-6dp,
    // the proven cross-engine float-compare idiom)
    Entry("x53_semantic_dedup", (s, d) =>
      // corpus-adaptive nlist (the SemDeDup scale knob), BALANCED shape
      // (CellShape.flat: nlist ∝ √n; fixed nlist makes pairs quadratic,
      // nlist ∝ n makes assignment quadratic — measured 202s vs 29s at
      // the 100× corpus). Past ~10⁷ docs the knob changes kind, not
      // value: the two-level shape (x56) restores ~linear. Eager count
      // at construction, same footer-cheap pattern as fixedCountPred;
      // the oracle computes the identical bound as a scalar subquery
      // with the same IEEE sqrt/ceil sequence
      Similarity.semDedup(intEmbeds(s, d), "doc_id", "embedding",
        CellShape.flat(docs(s, d).count(), ivfIntNlist),
        threshold = semDedupThreshold), Sql(semDedupFlatOracleSql)),
    // HIERARCHICAL semantic dedup (the x56 scale spelling of x53):
    // constant target cluster size keeps the pair stage LINEAR, and the
    // two-level cell-restricted assignment replaces the flat n·nlist
    // argmax with ~n^1.25 work — the last super-linear schedule in the
    // catalog closed. Shape bounds are the SAME IEEE op sequences the
    // oracle's scalar subqueries evaluate.
    // Oracle:
    // hierarchical replay: Knuth seeds at BOTH levels, fine→coarse and
    // vector→coarse argmax, cell-restricted fine assignment before and
    // after the floor-mean Lloyd pass (refined centroids inherit their
    // seed's cell; a1-empty cids drop out of c1 on both engines), then
    // the same epsilon-ball drop rule. Shape bounds = the catalog's
    // exact IEEE ceil/sqrt sequences as scalar subqueries.
    Entry("x56_semantic_dedup_hier", (s, d) =>
      Similarity.semDedup(intEmbeds(s, d), "doc_id", "embedding",
        CellShape.hier(docs(s, d).count(), ivfIntNlist, semHierClusterSize,
          semHierMinCoarse), threshold = semDedupThreshold),
      Sql(semDedupHierOracleSql)),
    // AUTO-shaped semantic dedup — the default entry point: flat below
    // the targetClusterSize²/2 crossover (where flat's balanced √(2n)
    // clusters are already smaller than the hierarchical target),
    // hierarchical at or above it. The shipped sf dirs all land on the
    // flat branch (≤5k docs); the scale corpora land hierarchical —
    // the branch rule itself is oracle-replayed (same count predicate
    // on both sides) and spec-pinned (SemDedupSpec).
    // Oracle:
    // auto-shape replay: the SAME two chains, each behind the count
    // crossover predicate — exactly one branch emits rows, mirroring
    // CellShape.auto's branch rule
    Entry("x59_semantic_dedup_auto", (s, d) =>
      Similarity.semDedup(intEmbeds(s, d), "doc_id", "embedding",
        CellShape.auto(docs(s, d).count(), ivfIntNlist, semHierClusterSize,
          semHierMinCoarse), threshold = semDedupThreshold), Sql(
      s"""SELECT doc_id, cid, kept FROM ($semDedupFlatOracleSql) f
        |WHERE (SELECT count(*) FROM documents) < $semHierCrossoverDocs
        |UNION ALL
        |SELECT doc_id, cid, kept FROM ($semDedupHierOracleSql) h
        |WHERE (SELECT count(*) FROM documents) >= $semHierCrossoverDocs""".stripMargin))
  )
}
