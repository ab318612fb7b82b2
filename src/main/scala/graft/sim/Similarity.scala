package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The cell structure of the exact-integer IVF model behind
  * [[Similarity.semDedup]] and [[Similarity.knnGraph]]: `nlist` fine
  * cells, reached directly (`Flat`) or through `ncoarse` coarse cells
  * (`Hier`). The companion's rules derive a shape from the corpus size
  * `n` with the IEEE ceil/sqrt sequences the DuckDB oracles replay as
  * scalar subqueries; every rule and constructor rejects an
  * out-of-range input with a message naming the field.
  */
sealed trait CellShape

object CellShape {
  final case class Flat(nlist: Int) extends CellShape {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
  }

  /** `ncoarse` ≤ `nlist`: the coarse seeds are the prefix of the fine
    * seeds in the same order, so a larger `ncoarse` would silently
    * leave the engine with `nlist` coarse cells and the oracle with
    * `ncoarse`.
    */
  final case class Hier(nlist: Int, ncoarse: Int) extends CellShape {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(ncoarse >= 1, s"ncoarse must be >= 1, got $ncoarse")
    require(ncoarse <= nlist, s"ncoarse must be <= nlist ($nlist), got $ncoarse")
  }

  private def checkRule(n: Long, minNlist: Int, clusterSize: Int = 1,
                        minCoarse: Int = 1): Unit = {
    require(n >= 0L, s"n must be >= 0, got $n")
    require(minNlist >= 1, s"minNlist must be >= 1, got $minNlist")
    require(clusterSize >= 1, s"clusterSize must be >= 1, got $clusterSize")
    require(minCoarse >= 1, s"minCoarse must be >= 1, got $minCoarse")
  }

  private def nlistOf(v: Long): Int = {
    require(v <= Int.MaxValue, s"nlist must be <= ${Int.MaxValue}, got $v")
    v.toInt
  }

  /** Balanced flat shape: assignment costs n·nlist and the pair stage
    * Σ n_c² ≈ n²/nlist, so nlist = max(minNlist, ⌈√(n/2)⌉) equalizes
    * them at the one-level optimum n^1.5.
    */
  def flat(n: Long, minNlist: Int): Flat = {
    checkRule(n, minNlist)
    Flat(nlistOf(math.max(minNlist.toLong, math.ceil(math.sqrt(n / 2.0)).toLong)))
  }

  /** Constant-cluster-size shape: nlist = max(minNlist, ⌈n/clusterSize⌉),
    * ncoarse = max(minCoarse, ⌈√nlist⌉) — the Scala twin of the oracle's
    * `hierNlistSqlFor` / `hierNcoarseSqlFor`.
    */
  def hier(n: Long, minNlist: Int, clusterSize: Int, minCoarse: Int): Hier = {
    checkRule(n, minNlist, clusterSize, minCoarse)
    val nlist = nlistOf(math.max(minNlist.toLong,
      math.ceil(n / clusterSize.toDouble).toLong))
    Hier(nlist, math.max(minCoarse.toLong,
      math.ceil(math.sqrt(nlist.toDouble)).toLong).toInt)
  }

  /** Corpus size where [[auto]] switches to [[hier]]: flat's balanced
    * clusters hold √(2n) vectors, which reaches `clusterSize` at
    * n = clusterSize²/2 — past it the two-level shape does less work in
    * both stages, with no tuning constant left to the caller.
    */
  private[graft] def crossoverDocs(clusterSize: Int): Long = {
    require(clusterSize >= 1, s"clusterSize must be >= 1, got $clusterSize")
    clusterSize.toLong * clusterSize / 2
  }

  /** [[flat]] below [[crossoverDocs]], [[hier]] at or above it. */
  def auto(n: Long, minNlist: Int, clusterSize: Int, minCoarse: Int): CellShape = {
    checkRule(n, minNlist, clusterSize, minCoarse)
    if (n < crossoverDocs(clusterSize)) flat(n, minNlist)
    else hier(n, minNlist, clusterSize, minCoarse)
  }
}

/** Similarity search over an embedding column (`array<float>`, or
  * integer-valued for the exact-integer family).
  *
  * Brute-force cosine top-k is the verifiable baseline; LSH, IVF, JL
  * and PQ are the scale paths: at 100 TB you never cross-join the
  * corpus — you broadcast the (small) query set for brute force, or
  * join on bucket / list keys so each query only scores its candidates.
  * Each `cosineTopK*` entry point is one algorithm with its own knobs;
  * they share one query projection, one scoring step and one top-k tail
  * (`rnk` by sim DESC, nid ASC). All math is done in double on both
  * engines and scores are rounded BEFORE ranking, so ranks are
  * deterministic and oracle-stable across engines.
  *
  * Semantic dedup ([[semDedup]]) and the kNN graph ([[knnGraph]]) run
  * on ONE exact-integer cell model whose structure is a [[CellShape]]:
  *
  * | Shape | Model | Work (n vectors) |
  * |---|---|---|
  * | `Flat(nlist)` | [[ivfIntModel]]: every vector scores all nlist centroids | assignment n·nlist; n^1.5 at `CellShape.flat`'s nlist ≈ √(n/2) |
  * | `Hier(nlist, ncoarse)` | [[hierIntModel]]: a vector finds its coarse cell, then scores only that cell's fine centroids | n·(ncoarse + nlist/ncoarse); ~n^1.25 at `CellShape.hier`'s ncoarse ≈ √nlist, pair / candidate stage linear at constant cluster size |
  * | `CellShape.auto(n, …)` | `flat` below n = clusterSize²/2, `hier` at or above it | the smaller of the two |
  *
  * `knnGraph` runs `Flat(nlist)` as `Hier(nlist, 1)`: with one coarse
  * cell the two models are equal (spec-pinned in KnnGraphHierSpec).
  */
object Similarity {

  /** dot(a, b) over array<double> columns — native codegen'd expression
    * (see `graft.functions.DotProduct`); identical left-to-right
    * summation to the composable `aggregate(zip_with(...))` form.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotNative(a, b)

  /** The composable built-in form (kept for parity testing). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Spread a corpus frame to the session's default parallelism before
    * a fan-out broadcast join, when its scan yields fewer splits. A
    * queries×corpus nested-loop join INHERITS the stream side's
    * partitioning, so a corpus that arrives in a handful of parquet
    * splits runs the entire scoring fan-out — and the per-query top-k
    * sort behind it — on that handful of cores: measured 8 tasks on 32
    * cores at the 5M-doc probe corpus (9 files), where the starved
    * WindowGroupLimit pre-sort then spill-thrashed. One round-robin
    * exchange of the slim (id, vector) rows BEFORE the join amortizes
    * against the join's multiplied output. No-op (plan-identical: the
    * INPUT frame itself is returned, spec-pinned in PlanAuditSpec) when
    * the scan already has enough splits — the common cluster case.
    *
    * The split probe uses `queryExecution.toRdd` — the internal-row RDD
    * the plan already owns — not `df.rdd`, which would bolt a
    * deserializer stage and fresh row-RDD lineage onto every probe just
    * to read a partition count (ADVICE r11). Physical planning still
    * runs once per call and is reused by the subsequent action on the
    * common no-op path.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** `(<side>id, <side>vec)` rows of `df`: side "n" is the corpus, side
    * "q" the queries — `emb.filter(queryPred)`, the RAW input frame in
    * the idCol spelling, the shared contract of every cosineTopK* entry
    * point.
    */
  private def idVecs(df: DataFrame, idCol: String, vecCol: String,
                     side: String, vec: Column => Column = asDouble): DataFrame =
    df.select(col(idCol).as(side + "id"), vec(col(vecCol)).as(side + "vec"))

  private def asLong(c: Column): Column = c.cast("array<long>")

  private def cosine6(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** (qid, nid, sim) over candidate rows carrying qvec/nvec: self pairs
    * dropped, sim rounded to 6dp before any ranking.
    */
  private def scorePairs(cand: DataFrame,
                         sim: (Column, Column) => Column = cosine): DataFrame =
    cand.filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), round(sim(col("qvec"), col("nvec")), 6).as("sim"))

  /** The family's top-k tail: per qid, `rnk` = row_number over
    * (sim DESC, nid ASC), kept while ≤ k. Output: qid, nid, sim, rnk.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Brute-force cosine top-k: for each query vector (`queryPred` selects
    * the query subset), the k nearest corpus vectors (self excluded).
    * The query side is broadcast; scoring is a map-side nested loop over
    * the corpus partitions — scales linearly in corpus size.
    * Output: qid, nid, sim (rounded), rank.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryPred: Column, k: Int = 5): DataFrame = {
    val corpus = spread(idVecs(emb, idCol, vecCol, "n"))
    val queries = idVecs(emb.filter(queryPred), idCol, vecCol, "q")
    topK(scorePairs(corpus.crossJoin(broadcast(queries))), k)
  }

  /** Deterministic ±1 sign for the Johnson-Lindenstrauss projection
    * matrix — parity of a splitmix-derived coefficient, indexed from
    * 4096 (disjoint from the MinHash [0, numHashes) and Bloom [512, …)
    * coefficient namespaces). A pure function of (outDim, inDim), so
    * the projection matrix is identical on every executor, every run,
    * and in the oracle (signs are interpolated as literals).
    */
  private[graft] def jlSign(t: Int, i: Int): Int =
    if (graft.neardup.NearDup.portableCoef(4096 + t * 256 + i, 0) % 2 == 1) 1
    else -1

  /** Johnson-Lindenstrauss random projection of a double vector to `r`
    * dims with the ±1 (Achlioptas) matrix: out_t = Σ_i jlSign(t,i)·v_i,
    * each component an explicit left-associated sum so both engines run
    * the IDENTICAL IEEE op sequence. Pure column arithmetic inside
    * whole-stage codegen — the projection costs r·dim mul-adds in the
    * scan stage, no shuffle, and downstream similarity work drops by
    * dim/r (the 100 TB story: project once at ingest, run every ANN /
    * dedup pass in the compressed space).
    */
  def jlProject(vec: Column, dim: Int, r: Int): Column =
    array((0 until r).map(t =>
      (0 until dim).map(i =>
        element_at(vec, i + 1) * lit(jlSign(t, i).toDouble)).reduce(_ + _)): _*)

  /** Brute-force cosine top-k in the JL-projected space — [[cosineTopK]]
    * with both sides projected by [[jlProject]]. Same broadcast-queries
    * map-side shape; each similarity costs O(r) instead of O(dim).
    * Quality is gated against the exact-space top-k (x68), not assumed.
    *
    * Cache ownership: the projected corpus below is `.cache()`d with no
    * unpersist — release is the SESSION OWNER's job (Bench/Verify
    * clearCache between queries), the same contract as the
    * pipelines.Curation staged caches. At 100 TB the projected corpus
    * would be a materialized table ("project once at ingest").
    */
  def cosineTopKJl(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, dim: Int, r: Int, k: Int = 5): DataFrame = {
    // the projected corpus is CACHED so `nvec` is an ATTRIBUTE at the
    // cross join, not an expression tree: uncached, CollapseProject
    // inlines the r·dim-term projection into the join stage and
    // re-evaluates it per (corpus × query) PAIR — measured 141s vs 8.2s
    // for the same 8M-pair join with materialized vectors (JlProbe,
    // 100× corpus; the x73 higher-order-function lesson in PLANS.md,
    // join-shaped). The cached frame is r doubles per corpus row —
    // 25 MB at 200k vectors. The broadcast query side needs no cache:
    // broadcast materializes evaluated rows once by construction.
    val project = (v: Column) => jlProject(asDouble(v), dim, r)
    val corpus = spread(idVecs(emb, idCol, vecCol, "n", project)).cache()
    val queries = idVecs(emb.filter(queryPred), idCol, vecCol, "q", project)
    topK(scorePairs(corpus.crossJoin(broadcast(queries))), k)
  }

  /** Two-stage compressed-space ANN — the production JL composition:
    * shortlist the top-`shortlist` candidates per query in the projected
    * space (O(r) per similarity), then re-rank ONLY the shortlist with
    * exact-space cosine and keep the top-k. The shortlist join is
    * broadcast (queries × shortlist rows — tiny), so the corpus side
    * stays map-only in both stages. `shortlist` is the recall knob:
    * on the near-uniform fixture vectors (the hard case — tiny angular
    * spread) recall@5 measures 0.39–0.67 at shortlist=100 vs 0.09 for
    * raw projected top-5; clustered real embeddings sit far higher.
    */
  def cosineTopKJlRerank(emb: DataFrame, idCol: String, vecCol: String,
                         queryPred: Column, dim: Int, r: Int,
                         shortlist: Int = 100, k: Int = 5): DataFrame = {
    val cand = cosineTopKJl(emb, idCol, vecCol, queryPred, dim, r,
      k = shortlist).select("qid", "nid")
    val corpus = idVecs(emb, idCol, vecCol, "n")
    val queries = idVecs(emb.filter(queryPred), idCol, vecCol, "q")
    val scored = corpus.join(broadcast(cand), Seq("nid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("nid"), cosine6(col("qvec"), col("nvec")).as("sim"))
    topK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * splitmix64-style bit mix of (bit, component) — a pure function, so
    * the same plan (and buckets) reproduce at any scale with no RNG.
    */
  private[graft] def planeConst(b: Int, i: Int): Double = {
    var z = (b.toLong << 32 | i.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** Random-hyperplane LSH bucket key: `nbits` sign bits of dot products
    * with deterministic hyperplanes. The planes are literal arrays, so
    * each bit is one codegen'd zip_with/aggregate pass — compact generated
    * code (the earlier per-component expression unrolling produced
    * nbits×dim-term trees that dominated compile time).
    */
  def lshBucket(vec: Column, dim: Int, nbits: Int = 8,
                table: Int = 0): Column = {
    // `table` offsets the hyperplane seeds so independent hash tables
    // see independent planes (multi-table LSH)
    val bits = (0 until nbits).map { b =>
      val plane = array((0 until dim).map(i =>
        lit(planeConst(table * nbits + b, i))): _*)
      val d = dot(vec, plane)
      when(d > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Bucketed ANN: queries only score corpus vectors sharing an LSH
    * bucket in at least one of `tables` independent hyperplane tables.
    * Recall < 1 by construction; bounded work per query (candidates ≤
    * tables × bucket size). Single-table recall@5 on near-uniform
    * embeddings is poor (~7-10% measured) — extra tables buy recall at
    * LINEAR cost (measured 35-48% at tables=8, nbits=6), same
    * (table_id, bucket) composite-key shape as `embeddingNearDupPairs`.
    * Output: qid, nid, sim, rank.
    */
  def cosineTopKLsh(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, dim: Int, k: Int = 5,
                    nbits: Int = 8, tables: Int = 1): DataFrame = {
    // the (tiny) query subset is re-banded rather than filtered out of
    // the banded corpus, since bucketing is a pure per-row function of
    // the vector
    def band(df: DataFrame, side: String): DataFrame =
      df.select(col(side + "id"), col(side + "vec"),
        posexplode(array((0 until tables).map(t =>
          lshBucket(col(side + "vec"), dim, nbits, t)): _*)).as(Seq("table_id", "bucket")))
    val banded = band(idVecs(emb, idCol, vecCol, "n"), "n")
    val queries = band(idVecs(emb.filter(queryPred), idCol, vecCol, "q"), "q")
    // a pair colliding in several tables must score once
    topK(scorePairs(banded.join(broadcast(queries), Seq("table_id", "bucket")))
      .distinct(), k)
  }

  /** AUTO-shaped nbits for the random-hyperplane LSH family: the
    * smallest nbits ≥ minNbits with n ≤ targetBucket · 2^nbits, so
    * expected bucket occupancy n / 2^nbits stays ≤ targetBucket as the
    * corpus grows and per-query candidate work (tables · occupancy)
    * stays FLAT instead of linear-in-n at a fixed shape — the scale
    * knob x06's fixed (nbits=6, tables=8) demo leaves to the caller.
    * Pure integer comparisons (no log/pow float), so a SQL twin
    * replays the branch rule as count-range predicates (the x59
    * pattern). Deeper grids trade per-table recall for bucket size;
    * the x35 recall gate pins the operating point at shipped sizes.
    */
  def lshAutoNbits(n: Long, targetBucket: Int = 256,
                   minNbits: Int = 6): Int = {
    require(n >= 0 && targetBucket >= 1 && minNbits >= 1)
    var b = minNbits
    while (n > (targetBucket.toLong << b) && b < 62) b += 1
    b
  }

  /** [[cosineTopKLsh]] with the [[lshAutoNbits]] schedule as the
    * default entry point — `n` is caller-supplied (one metadata-cheap
    * count) so the same count can parameterize the caller's oracle
    * twin, like [[CellShape.auto]].
    */
  def cosineTopKLshAuto(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, dim: Int, n: Long, k: Int = 5,
                        targetBucket: Int = 256, minNbits: Int = 6,
                        tables: Int = 1): DataFrame =
    cosineTopKLsh(emb, idCol, vecCol, queryPred, dim, k,
      nbits = lshAutoNbits(n, targetBucket, minNbits), tables = tables)

  /** IVF-Flat ANN: vectors are assigned to their nearest centroid
    * (inverted lists); a query scores ONLY the lists of its `nprobe`
    * nearest centroids. Work per query is O(centroids + corpus/lists ·
    * nprobe) instead of O(corpus) — the standard coarse-quantization
    * scale path next to LSH.
    *
    * Centroids start as a deterministic sample (hash-spread nlist pick)
    * and take `refineIters` Lloyd passes — assign the corpus, recompute
    * each centroid as the element-wise mean of its list (posexplode →
    * per-(cid, pos) average → re-assembled array). One refinement pass
    * measurably lifts recall over raw sampled centroids (sampled points
    * sit at cluster EDGES; means sit at centers). Both assignment and
    * probing broadcast the (tiny) centroid set; the corpus is scanned
    * once per Lloyd pass + once for the final assignment.
    */
  /** Corpus→nearest-centroid assignment. Argmax via max_by over a
    * (csim, -cid) ordering struct — the nlist candidate rows for a
    * vector are co-located after the broadcast join, so the agg
    * partial-aggregates map-side and exchanges ONE row per vector; the
    * row_number window this replaces shuffled and sorted corpus×nlist
    * rows. Tiebreak (-cid ⇒ min cid on equal csim) matches the
    * window's (csim desc, cid asc).
    */
  private def ivfAssign(corpus: DataFrame, cs: DataFrame,
                        sim: (Column, Column) => Column = cosine6): DataFrame =
    corpus.crossJoin(broadcast(cs))
      .select(col("nid"), col("nvec"), col("cid"),
        sim(col("nvec"), col("cvec")).as("csim"))
      .groupBy("nid")
      .agg(max_by(struct(col("cid"), col("nvec")),
        struct(col("csim"), negate(col("cid")))).as("best"))
      .select(col("nid"), col("best.nvec").as("nvec"), col("best.cid").as("cid"))

  /** IVF coarse quantizer: deterministic hash-spread init (order by
    * hash(id), take nlist — compiles to TakeOrderedAndProject: per-
    * partition top-nlist, no global sort, same centroids at any
    * partitioning) + `refineIters` Lloyd passes. The result is pinned
    * with an eager localCheckpoint (nlist rows): the post-Lloyd plan
    * contains a full corpus assign, and BOTH the final assignment and
    * the query probes consume it — uncheckpointed they would each
    * re-run the whole refine subtree (measured 9.8× on the bench).
    */
  private def ivfTrain(corpus: DataFrame, nlist: Int,
                       refineIters: Int): DataFrame = {
    var centroids = corpus
      .orderBy(pmod(hash(col("nid")), lit(1000003)).asc, col("nid").asc)
      .limit(nlist)
      .select(col("nid").as("cid"), col("nvec").as("cvec"))
    for (_ <- 0 until refineIters) {
      centroids = ivfAssign(corpus, centroids)
        .select(col("cid"), posexplode(col("nvec")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg("v").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
    }
    centroids.localCheckpoint(true)
  }

  /** Top-`nprobe` cells per query over (qid, cid, csim) candidate rows:
    * row_number by (csim DESC, cid ASC), projected to `keep`.
    */
  private def topProbes(cand: DataFrame, nprobe: Int, keep: String*): DataFrame =
    cand.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nprobe).select(keep.map(col): _*)

  /** Each query's `nprobe` nearest centroid lists: (qid, qvec, cid). */
  private def ivfProbes(queries: DataFrame, centroids: DataFrame, nprobe: Int,
                        sim: (Column, Column) => Column = cosine6): DataFrame =
    topProbes(queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qvec"), col("cid"),
        sim(col("qvec"), col("cvec")).as("csim")), nprobe, "qid", "qvec", "cid")

  def cosineTopKIvf(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, nlist: Int = 16, nprobe: Int = 2,
                    k: Int = 5, refineIters: Int = 1): DataFrame = {
    val corpus = idVecs(emb, idCol, vecCol, "n")
    val centroids = ivfTrain(corpus, nlist, refineIters)
    // inverted lists: each corpus vector → its nearest (refined) centroid
    val assigned = ivfAssign(corpus, centroids)
    val queries = idVecs(emb.filter(queryPred), idCol, vecCol, "q")
    topK(scorePairs(assigned
      .join(broadcast(ivfProbes(queries, centroids, nprobe)), Seq("cid"))), k)
  }

  /** Integer-exact cosine: dots are exact-integer doubles, the guard
    * keeps all-zero vectors (empty payloads) at sim 0 instead of NaN.
    */
  private def cosExactInt(a: Column, b: Column): Column =
    dot(a, b) / greatest(sqrt(dot(a, a)) * sqrt(dot(b, b)), lit(1e-9))

  /** The Knuth multiplicative spread key the integer-IVF family seeds
    * with — ONE definition for ivfIntModel and hierIntModel (the
    * oracles interpolate the same constants; a typo in a hand-rolled
    * copy would surface as a hash mismatch, not a compile error).
    * Portable-pmod spelled like the rest of the family
    * (Sampling.hashBucket, Sharding.spreadKey) so the seed ORDER is
    * total over negative ids too.
    */
  private def knuthSpread(id: Column): Column =
    (id % 1000000007L * 2654435761L % 1000003L + 1000003L) % 1000003L

  /** The first `nlist` corpus vectors in Knuth-spread order, as seed
    * centroids (cid, <vecName>): pure integer arithmetic, unlike
    * [[ivfTrain]]'s engine-murmur spread, so any engine reproduces them.
    */
  private def knuthSeeds(corpus: DataFrame, nlist: Int, vecName: String): DataFrame =
    corpus.orderBy(knuthSpread(col("nid")).asc, col("nid").asc).limit(nlist)
      .select(col("nid").as("cid"), col("nvec").as(vecName))

  /** Integer FLOOR-mean Lloyd update shared by [[ivfIntModel]] and
    * [[hierIntModel]]: element-wise integer sum, then floor
    * division spelled `(sv - pmod(sv, cnt)) div cnt` — pmod is always
    * in [0, cnt), so the quotient is exact AND floors like DuckDB's
    * `//` even on negative sums (`sv div cnt` alone truncates toward
    * zero, which would silently diverge from the oracle on the first
    * embedding with negative components). Output: (cid, <outCol>).
    */
  private def lloydFloorMean(assigned: DataFrame, outCol: String): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("nvec")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .withColumn("m", expr("(sv - pmod(sv, cnt)) div cnt"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as(outCol))

  /** The one-level (`CellShape.Flat`) integer-exact IVF model: Knuth-
    * spread init, ONE Lloyd pass with integer-sum / floor-mean centroid
    * update, max_by argmax assignment — every step exact-integer or a
    * fixed IEEE op sequence, so any engine reproduces (centroids,
    * assignment) byte-for-byte. Returns (refined centroids (cid, cvec)
    * — localCheckpoint-pinned so multiple consumers don't re-run the
    * refine — and the corpus assignment (nid, nvec, cid)). Shared by
    * [[cosineTopKIvfInt]] (x20i) and [[semDedup]] (x53), whose DuckDB
    * oracles share the matching CTE chain.
    */
  private[graft] def ivfIntModel(emb: DataFrame, idCol: String,
                                 vecCol: String, nlist: Int)
      : (DataFrame, DataFrame) = {
    val corpus = idVecs(emb, idCol, vecCol, "n", asLong)
    val init = knuthSeeds(corpus, nlist, "cvec")
    // one Lloyd pass (shared floor-mean update); pinned like ivfTrain
    // so the two consumers don't re-run the refine
    val refined = lloydFloorMean(ivfAssign(corpus, init, cosExactInt), "cvec")
      .localCheckpoint(true)
    (refined, ivfAssign(corpus, refined, cosExactInt))
  }

  /** EXACT-INTEGER IVF top-k: the cross-engine-reproducible variant of
    * [[cosineTopKIvf]], for integer-valued vectors (Multimodal
    * .fakeEmbedInt). Float k-means is inherently order-dependent — the
    * centroid mean sums doubles in partition order, so no SQL oracle can
    * reproduce the assignment bit-for-bit (x20's rows-only residue).
    * [[ivfIntModel]] removes every order-dependent float:
    *
    *  - init: Knuth-spread order (nid % 1000000007 * 2654435761
    *    % 1000003, nid) take nlist;
    *  - Lloyd update: element-wise integer SUM (exact, order-free) and
    *    floor-divided integer mean — centroids stay integer vectors;
    *  - similarity: cosine whose three dot products are exact integers
    *    (< 2^53), so the divide/sqrt chain is a fixed sequence of
    *    correctly-rounded IEEE ops — bit-identical in any engine;
    *  - ties: max_by struct (csim, -cid) == row_number (csim DESC, cid
    *    ASC), the same spelling the oracle uses.
    *
    * Same plan shape and scale story as [[cosineTopKIvf]]: broadcast
    * centroids, map-side max_by argmax (one exchanged row per vector),
    * localCheckpoint pinning the nlist-row centroid frame.
    */
  def cosineTopKIvfInt(emb: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, nlist: Int = 16, nprobe: Int = 2,
                       k: Int = 5): DataFrame = {
    val (refined, assigned) = ivfIntModel(emb, idCol, vecCol, nlist)
    val queries = idVecs(emb.filter(queryPred), idCol, vecCol, "q", asLong)
    val probes = ivfProbes(queries, refined, nprobe, cosExactInt)
    topK(scorePairs(assigned.join(broadcast(probes), Seq("cid")), cosExactInt), k)
  }

  /** Exchange width for a stage whose tasks each locally SORT a slice
    * of `rows` rows at ~`bytesPerRow` bytes (the rank windows below:
    * partial WindowGroupLimit sorts its whole input partition):
    * targets ~256 MB of sort input per task — well inside one
    * thread's fair share of the execution pool even at 32 concurrent
    * tasks — floored at the session's shuffle parallelism so sf-scale
    * corpora keep their existing plans, capped at 65536. The point is
    * that the exchange width follows DATA VOLUME, not a session
    * constant sized for small suites: at v2-5M the n·(nlist/ncoarse)
    * candidate frames are ~1e9 rows, which over 32 partitions is
    * ~8 GB of sort input PER TASK — 32 concurrently spilling sorters
    * whose allocation storms (under parquet/shuffle-codec JNI
    * criticals holding the GCLocker) drove the round-17 x65 heap
    * deaths; at ~256 MB/task the same stages stream. On a
    * 1000-executor cluster the identical rule yields the tens of
    * thousands of partitions that scale wants.
    */
  private def volumeParts(df: DataFrame, rows: Long,
                          bytesPerRow: Long): Int = {
    val target = 256L << 20
    val want = (rows * bytesPerRow + target - 1) / target
    val floor = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(floor, math.min(want, 65536L).toInt)
  }

  /** Round-robin-spread `df` to `parts` BEFORE a map-side expansion
    * (broadcast join / crossJoin) when `parts` exceeds the session
    * parallelism; a no-op otherwise so small-corpus plans are
    * untouched and AQE keeps coalescing their exchanges.
    */
  private def spreadTo(df: DataFrame, parts: Int): DataFrame =
    if (parts > df.sparkSession.sessionState.conf.numShufflePartitions)
      df.repartition(parts)
    else df

  /** Narrow rank rows: ~(8-byte id, 8-byte key, 8-byte sim) + UnsafeRow
    * overhead. The rank windows below project vectors OUT before the
    * sort (rank needs only the sim and the tiebreak) and join the
    * winner rows back to their pinned parents for the vector columns —
    * carrying a 20-int vector through a 1e9-row sort multiplies the
    * sort volume ~6× for columns the comparator never reads.
    */
  private val rankRowBytes = 48L

  /** The TWO-LEVEL (`CellShape.Hier`) exact-integer cell model — one
    * definition so the x56 and x63/x65 DuckDB replay oracles share one
    * CTE chain and [[semDedup]] / [[knnGraph]] cannot drift. Vectors
    * find their coarse cell (n·ncoarse), then argmax only over the fine
    * centroids living in that cell (n·nlist/ncoarse expected) — with
    * ncoarse ≈ √nlist the assignment is ~n^1.25 total instead of the
    * flat n^1.5 (the IVF-in-IVF composition the x49 PQ path uses for
    * codes). Returns
    * (refined fine centroids with their inherited coarse cell
    *  `(cid, fvec, ccid)`,
    *  vector→coarse assignment `(nid, nvec, ccid)`,
    *  final cell-restricted fine assignment `(nid, nvec, cid)`,
    *  the corpus size n it counted to size its exchanges),
    * the first and last localCheckpoint-pinned (each feeds ≥2
    * downstream consumers in every caller).
    *
    * Everything stays exact-integer / fixed-IEEE: Knuth-spread seeds
    * for BOTH levels, argmax ties (csim DESC, id ASC) everywhere, one
    * integer floor-mean Lloyd pass on the fine level, refined centroids
    * INHERITING their seed's coarse cell (re-deriving cells post-Lloyd
    * would need a second n·ncoarse pass for marginal recall), and
    * vectors restricted to LIVE cells (a coarse cell no fine seed landed
    * in can otherwise orphan its vectors).
    *
    * With ncoarse = 1 every fine centroid and every vector lands in the
    * single live coarse cell, so the cell-restricted argmaxes range over
    * the FULL centroid set and the model degenerates to [[ivfIntModel]]
    * exactly (same Knuth seeds, same Lloyd pass, same tiebreaks) —
    * spec-pinned by KnnGraphHierSpec.
    */
  private[graft] def hierIntModel(emb: DataFrame, idCol: String,
                                  vecCol: String, nlist: Int, ncoarse: Int)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val corpus = idVecs(emb, idCol, vecCol, "n", asLong)
    val fineSeeds = knuthSeeds(corpus, nlist, "fvec")
    // the coarse seeds are by construction the PREFIX of the fine seeds
    // under the same total order (ncoarse ≤ nlist, see CellShape.Hier)
    // — derive them instead of re-running a second TakeOrdered pass
    val coarseSeeds = fineSeeds.limit(ncoarse)
      .select(col("cid").as("ccid"), col("fvec").as("cvec"))
    // fine seed -> coarse cell (nlist·ncoarse rows, broadcast-sized)
    val fineCells = fineSeeds.crossJoin(broadcast(coarseSeeds))
      .withColumn("__s", cosExactInt(col("fvec"), col("cvec")))
      .withColumn("__rn", row_number().over(Window.partitionBy("cid")
        .orderBy(col("__s").desc, col("ccid").asc)))
      .filter(col("__rn") === 1).select("cid", "fvec", "ccid")
      .localCheckpoint(true)
    // only cells that actually hold a fine centroid may receive vectors
    val liveCoarse = coarseSeeds.join(
      fineCells.select("ccid").distinct(), Seq("ccid"), "left_semi")
    // one count sizes every volume-proportional exchange below; the
    // caller-side frames are cached/pinned, so this is one cheap job
    val n = corpus.count()
    // vector -> coarse cell: the n·ncoarse pass, pinned (it feeds both
    // the pre- and post-Lloyd fine assignment). The argmax is a max_by
    // AGGREGATE (the flat ivfIntModel idiom), not a rank window: a
    // hash aggregate partial-aggregates the n·ncoarse expansion rows
    // MAP-SIDE down to one best-so-far per vector — no sort of the
    // expansion exists at any exchange width, which is the shape that
    // survives 100 TB (the r17 window spelling locally sorted ~8 GB
    // per task at v2-5M and starved the heap; see volumeParts). The
    // agg value carries only (ccid); nvec rejoins from the pinned
    // parent. Tiebreak max(__s), then min id via negate — identical
    // winners to the old (desc, asc) rank.
    val vCell = {
      val parts = volumeParts(corpus, n * math.max(1, ncoarse), rankRowBytes)
      val winner = spreadTo(corpus, parts).crossJoin(broadcast(liveCoarse))
        .select(col("nid"), col("ccid"),
          cosExactInt(col("nvec"), col("cvec")).as("__s"))
        .groupBy("nid")
        .agg(max_by(col("ccid"), struct(col("__s"), negate(col("ccid"))))
          .as("ccid"))
      winner.join(corpus, Seq("nid")).select("nid", "nvec", "ccid")
        .localCheckpoint(true)
    }
    // cell-restricted fine assignment against an arbitrary centroid
    // set: same max_by + rejoin shape (vCell is checkpoint-pinned, so
    // the winner rejoin reads pinned blocks, not a recompute)
    val finePerCoarse = math.max(1L, nlist.toLong / math.max(1, ncoarse))
    def assignFine(cents: DataFrame): DataFrame = {
      val parts = volumeParts(vCell, n * finePerCoarse, rankRowBytes)
      val winner = spreadTo(vCell, parts).join(broadcast(cents), Seq("ccid"))
        .select(col("nid"), col("cid"),
          cosExactInt(col("nvec"), col("fvec")).as("__s"))
        .groupBy("nid")
        .agg(max_by(col("cid"), struct(col("__s"), negate(col("cid"))))
          .as("cid"))
      winner.join(vCell.select("nid", "nvec"), Seq("nid"))
        .select("nid", "nvec", "cid")
    }
    // one integer floor-mean Lloyd pass (shared update); refined
    // centroids keep their seed's coarse cell
    val refined = lloydFloorMean(assignFine(fineCells), "fvec")
      .join(fineCells.select("cid", "ccid"), Seq("cid"))
      .localCheckpoint(true)
    (refined, vCell, assignFine(refined).localCheckpoint(true), n)
  }

  /** Semantic deduplication (SemDeDup — Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the corpus embeddings with k-means,
    * then inside each cluster drop every document that has a cosine-≥
    * threshold neighbor — semantically-identical copies collapse to one
    * representative without any text comparison. The paper's keeper
    * rule (keep the point FARTHEST from the centroid) is replaced by
    * the deterministic lowest-id-survives rule the rest of the dedup
    * family uses (x01/x22), which makes re-runs and the SQL twin exact:
    * a doc is dropped iff a LOWER-id cluster-mate sits inside its
    * cosine ball (round-6dp, the cross-engine float-compare idiom).
    *
    * The clustering is the exact-integer cell model of `shape` —
    * `Flat(nlist)` runs [[ivfIntModel]] (x53), `Hier(nlist, ncoarse)`
    * runs [[hierIntModel]] (x56), and [[CellShape.auto]] picks between
    * them from the corpus size (x59) — so every stage is
    * cross-engine-reproducible and the oracles replay it byte-for-byte.
    *
    * Scale shape: the dedup stage is a self-equi-join on cid — Σ n_c²
    * pair work, NEVER a corpus cross join. The 100 TB knob is the
    * paper's own: grow nlist with the corpus so expected cluster size
    * stays bounded (`CellShape.flat` grows it ∝ √n, `CellShape.hier` ∝ n
    * at constant cluster size, making pair work linear). Output is one
    * row per document (idCol, cid, kept) — `kept=false` rows are the
    * semantic duplicates a curation pipeline would drop.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               shape: CellShape, threshold: Double = 0.995): DataFrame = {
    // the assignment feeds THREE consumers (both pair-join sides + the
    // output frame): pin it once, or each consumer re-runs the whole
    // embed + broadcast-argmax pipeline. MEMORY_AND_DISK checkpoint =
    // one corpus-sized materialization, the same trade a production
    // SemDeDup makes by persisting cluster assignments between stages
    // (hierIntModel returns its assignment already pinned)
    val assigned = shape match {
      case CellShape.Flat(nlist) =>
        ivfIntModel(emb, idCol, vecCol, nlist)._2.localCheckpoint(true)
      case CellShape.Hier(nlist, ncoarse) =>
        hierIntModel(emb, idCol, vecCol, nlist, ncoarse)._3
    }
    // explicit string aliases on both self-join sides: the dataframe-
    // handle spelling lhs("cid") === rhs("cid") resolved both sides to
    // the SAME attribute at least once (Spark's "trivially true
    // equals predicate 'cid == cid'" warning in the r17 Verify tail) —
    // alias-qualified columns make the degeneration impossible
    val lhs = assigned.select(col("cid"), col("nid").as("id_a"),
      col("nvec").as("va")).as("ebl")
    val rhs = assigned.select(col("cid"), col("nid").as("id_b"),
      col("nvec").as("vb")).as("ebr")
    val dropped = lhs.join(rhs,
        col("ebl.cid") === col("ebr.cid") && col("id_b") < col("id_a"))
      .filter(round(cosExactInt(col("va"), col("vb")), 6) >= threshold)
      .select(col("id_a").as("nid")).distinct()
    assigned.select("nid", "cid")
      .join(dropped.withColumn("__dup", lit(true)), Seq("nid"), "left")
      .select(col("nid").as(idCol), col("cid"),
        col("__dup").isNull.as("kept"))
  }

  /** Full kNN-GRAPH construction: every corpus vector is a query
    * against the exact-integer cell model, so the output is each node's
    * top-k approximate neighbors (qid, nid, sim, rnk) — the input of
    * graph-based curation (SemDeDup's cluster graph, connected-
    * component near-dup groups over embeddings, diversity sampling).
    *
    * The model is always [[hierIntModel]]; `Flat(nlist)` runs as
    * `Hier(nlist, 1)`, which equals the one-level model. Probe
    * derivation ranks each vector only against the fine centroids of
    * ITS coarse cell (n·nlist/ncoarse expected rows), and with
    * ncoarse ≈ √nlist the model stage is ~n^1.25 instead of the flat
    * n^1.5 — at the constant-cluster-size schedule (x63/x65) the
    * candidate scoring stage is linear too (nprobe · clusterSize
    * candidates per query).
    *
    * Differs from [[cosineTopKIvfInt]] (a query-SUBSET operator) in
    * the places an all-queries shape changes the plan: the probe frame
    * is corpus-sized, so the candidate stage is a shuffle equi-join on
    * cid, NOT a broadcast of the probes, and the assignment it reads is
    * checkpoint-pinned once.
    *
    * Approximation note: restricting probes to the vector's own coarse
    * cell is the standard IVF-in-IVF recall trade (a query near a
    * coarse boundary can't probe a fine list across it). Every stage
    * stays exact-integer / fixed-IEEE, so the x63/x65 DuckDB twins
    * replay the graph byte-for-byte.
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               shape: CellShape, nprobe: Int = 2, k: Int = 5): DataFrame = {
    val (nlist, ncoarse) = shape match {
      case CellShape.Flat(nl) => (nl, 1)
      case CellShape.Hier(nl, nc) => (nl, nc)
    }
    val (refined, vCell, assigned, n) = hierIntModel(emb, idCol, vecCol,
      nlist, ncoarse)
    val finePerCoarse = math.max(1L, nlist.toLong / math.max(1, ncoarse))
    // probe derivation: NARROW rank rows (qid, cid, csim) through the
    // volume-spread top-nprobe window — qvec rejoins from the pinned
    // assignment AFTER ranking (carrying a 20-int vector through the
    // n·(nlist/ncoarse)-row sort multiplies its volume ~6× for columns
    // the comparator never reads; see volumeParts for the r17 numbers)
    val probeParts = volumeParts(vCell, n * finePerCoarse, rankRowBytes)
    val probeSel = topProbes(spreadTo(vCell, probeParts)
      .join(broadcast(refined), Seq("ccid"))
      .select(col("nid").as("qid"), col("cid"),
        cosExactInt(col("nvec"), col("fvec")).as("csim")), nprobe, "qid", "cid")
    val probes = probeSel.join(
      vCell.select(col("nid").as("qid"), col("nvec").as("qvec")), Seq("qid"))
      .select("qid", "qvec", "cid")
    // candidate scoring: both sides co-partitioned on cid at a width
    // sized by the expected n·nprobe·clusterSize candidate volume, so
    // the per-task partial top-k sort stays ~256 MB at any corpus size
    val clusterSz = math.max(1L, n / math.max(1, nlist))
    val scoreParts = volumeParts(vCell, n * nprobe * clusterSz, 64L)
    val conf = assigned.sparkSession.sessionState.conf.numShufflePartitions
    val (aSide, pSide) =
      if (scoreParts > conf)
        (assigned.repartition(scoreParts, col("cid")),
          probes.repartition(scoreParts, col("cid")))
      else (assigned, probes)
    topK(scorePairs(aSide.join(pSide, Seq("cid")), cosExactInt), k)
  }

  /** Mutual-kNN communities over a [[knnGraph]] edge list: keep
    * directed edges with `sim >= threshold`, retain only MUTUAL pairs
    * (each endpoint in the other's top-k — the standard symmetrization
    * that kills hub-induced chains in a kNN graph), and fold the
    * undirected pair set into connected components with the shared
    * log-diameter CC loop (`NearDup.dupClusters` — pointer doubling,
    * checkpoint-pinned rounds). Output: (doc_id, cluster_id = min
    * member id) for every doc in at least one mutual edge — the
    * community assignment cluster-aware curation (diversity sampling,
    * per-community caps, SemDeDup-style pruning) consumes.
    *
    * Scale shape: the graph is k·n edges (never n²); mutuality is ONE
    * self-semi-join on the reversed key; CC rounds touch only edge-list
    * sized frames. The graph's [[CellShape]] (x65 passes x63's
    * `CellShape.hier`) is the caller's, not re-decided here.
    */
  def mutualKnnClusters(graph: DataFrame, threshold: Double): DataFrame = {
    // EAGER localCheckpoint, not cache(): the thresholded edges feed
    // both sides of the mutuality semi-join, and a lazy cache lets the
    // first action race TWO concurrent copies of the full kNN-graph
    // build (the join's two shuffle sides materialize in parallel;
    // block-level locks only partially serialize them) through one
    // executor heap — measured at v2-5M (round 17): the cached
    // spelling OOMs a 64 GB heap ~14 min in, mid graph-build window
    // sort, while the graph ALONE (x63) completes in less. The
    // checkpoint runs the expensive subtree exactly once, streaming
    // into block storage, and the semi-join then reads the pinned
    // (tiny, k·n-bounded) edge list twice for free.
    val e = graph.filter(col("sim") >= threshold)
      .select(col("qid"), col("nid")).localCheckpoint(true)
    val mutual = e
      .join(e.select(col("nid").as("qid"), col("qid").as("nid")),
        Seq("qid", "nid"), "left_semi")
      .filter(col("qid") < col("nid"))
      .select(col("qid").as("doc_a"), col("nid").as("doc_b"))
    graft.neardup.NearDup.dupClusters(mutual)
  }

  /** SEMANTIC decontamination: flag training docs whose embedding sits
    * inside the cosine epsilon-ball of ANY benchmark/eval embedding —
    * the meaning-level complement of the n-gram overlap paths
    * (`Decontaminate.report` exact-lexical, `bloomReport` bloom-gated):
    * a paraphrased eval answer shares few 8-grams but lands next to the
    * eval doc in embedding space.
    *
    * Scale shape: the eval side is a BENCHMARK set — thousands of
    * vectors against a 100 TB corpus — so it is broadcast whole and
    * every training vector is screened map-side in its scan stage
    * (cross join + filter = one codegen'd loop per row, no shuffle on
    * the training side at all; the same shape as x36's broadcast-semi
    * join and x42's broadcast rate map). Cost is |train| · |eval|
    * per-row arithmetic with |eval| constant — linear in the corpus.
    * For an eval side too big to broadcast, restrict candidates with
    * the shared IVF cells ([[ivfIntModel]]) exactly as [[semDedup]]
    * does; the broadcast spelling here IS the production shape for real
    * benchmark sizes.
    *
    * Integer-exact cosine ([[cosExactInt]]) rounded 6dp, so the DuckDB
    * twin replays every flagged pair. Output: one row per CONTAMINATED
    * training doc (idCol, n_close, max_sim) — `n_close` eval docs
    * inside the ball, `max_sim` the worst offender (deterministic: max
    * over rounded doubles).
    */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val t = train.select(col(idCol).as("__tid"),
      col(vecCol).cast("array<long>").as("tvec"))
    val e = eval.select(col(vecCol).cast("array<long>").as("evec"))
    t.crossJoin(broadcast(e))
      .select(col("__tid"),
        round(cosExactInt(col("tvec"), col("evec")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("__tid").as(idCol))
      .agg(count(lit(1)).as("n_close"), max(col("sim")).as("max_sim"))
  }

  /** The (id, vec, table_id, bucket) multi-table LSH banding the
    * embedding near-dup family joins on — one definition so the pair
    * join, the bucket-cap guard, and the occupancy report all see the
    * SAME bucket structure.
    */
  private def nearDupBanded(emb: DataFrame, idCol: String, vecCol: String,
                            dim: Int, nbits: Int, tables: Int): DataFrame =
    emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .select(col("id"), col("vec"),
        posexplode(array((0 until tables).map(t =>
          lshBucket(col("vec"), dim, nbits, t)): _*)).as(Seq("table_id", "bucket")))

  /** Per-bucket occupancy of the near-dup LSH banding, with the kept
    * count under `bucketCap` — the no-silent-caps companion of
    * [[embeddingNearDupReps]]: when the member cap engages at scale,
    * THIS frame is where the truncation is reported (n_kept < n_ids ⇒
    * that bucket's pair set was bounded to C(bucketCap, 2)). One
    * linear aggregate over the banded frame; fully deterministic, so a
    * SQL twin hash-checks it at any corpus size.
    */
  def nearDupBucketLoad(emb: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nbits: Int = 8, tables: Int = 1,
                        bucketCap: Int = 256): DataFrame =
    nearDupBanded(emb, idCol, vecCol, dim, nbits, tables)
      .groupBy("table_id", "bucket")
      .agg(count(lit(1)).as("n_ids"))
      .select(col("table_id"), col("bucket"), col("n_ids"),
        least(col("n_ids"), lit(bucketCap.toLong)).as("n_kept"))

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ threshold,
    * candidate generation bounded by LSH buckets (a true 100 TB-safe
    * near-dup join: bucket-equi-join, not cross join).
    *
    * `bucketCap` (None = exact) bounds each bucket's pair contribution:
    * within every (table_id, bucket), only the `bucketCap` LOWEST ids
    * participate in the pair join, so candidate output is ≤ tables ·
    * 2^nbits · C(bucketCap, 2) — a hard bound no corpus geometry can
    * break. Unlike the MinHash hot-bucket DROP (which discards buckets
    * that carry no signal on low-entropy text), clustered embeddings
    * put GENUINE near-dup mass in hot buckets — the true pair set is
    * quadratic in cluster size (the x57 v2-500k failure: 10 clusters
    * at same-cluster cosine ≈0.96 ⇒ ~1.6e11 true pairs), so the cap
    * keeps a deterministic per-bucket subset (lowest ids — the dedup
    * family's keeper convention) instead of dropping or enumerating.
    * The rule is one row_number window, replayed exactly by the SQL
    * twin; the dropped mass is REPORTED by [[nearDupBucketLoad]]
    * (n_ids vs n_kept per bucket), never silent.
    */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            dim: Int, threshold: Double = 0.9,
                            nbits: Int = 8, tables: Int = 1,
                            bucketCap: Option[Int] = None): DataFrame = {
    // multi-table LSH: a pair is a candidate if it collides in ANY of
    // `tables` independent hyperplane tables — per-pair hit probability
    // 1-(1-p^nbits)^tables where p = 1 - angle/pi, so extra tables buy
    // recall at linear (not quadratic) cost. The (table_id, bucket)
    // composite join key mirrors the MinHash banding shape; candidates
    // are verified with the true cosine, so extra tables never admit
    // false positives.
    val banded0 = nearDupBanded(emb, idCol, vecCol, dim, nbits, tables)
    val banded = bucketCap match {
      case None => banded0
      case Some(cap) =>
        // deterministic member cap: one window over the banded frame
        // (reps × tables rows — linear), sorted per bucket by id; the
        // quadratic stage downstream then meets ≤ cap rows per bucket
        banded0.withColumn("__rn", row_number().over(
            Window.partitionBy("table_id", "bucket").orderBy(col("id").asc)))
          .filter(col("__rn") <= cap).drop("__rn")
    }
    banded.as("a").join(banded.as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cosine(col("a.vec"), col("b.vec")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** Embedding near-dup over exact-duplicate REPRESENTATIVES — the
    * production composition the x07 scale notes prescribe for
    * dup-heavy corpora: a corpus where every vector has many byte-
    * identical twins makes pairwise near-dup output quadratic in twin
    * multiplicity (x07's measured 103×-output fixture), so first
    * collapse identical vectors with one hash groupBy (the x01 shape
    * on vector bytes: representative = min id, multiplicity carried),
    * then run the LSH-bucketed near-dup over representatives only.
    * Output pairs carry `implied_pairs` = n_a·n_b — the size of the
    * cross-twin pair set each representative pair stands for — so no
    * information is lost, at candidate cost bounded by the DISTINCT
    * vector count rather than the corpus.
    *
    * Group-key parity caveat: the groupBy key is the raw float array,
    * and Spark normalizes -0.0→0.0 and treats NaN = NaN in grouping
    * keys where other engines (the x57 DuckDB twin included) need not
    * — the corpus contract is therefore "no NaN / -0.0 components",
    * pinned as a fixture invariant (FixtureInvariants, asserted over
    * shipped AND generated corpora).
    *
    * `bucketCap` (default 256): the representative collapse bounds
    * candidate work in twin MULTIPLICITY, but not in cluster GEOMETRY —
    * on a corpus whose distinct vectors form tight clusters the true
    * pair set at a loose threshold is Σ_c n_c²/2 (output-quadratic; the
    * v2-500k sweep measured ~1.6e11 implied rows and failed by spill),
    * so the per-bucket member cap is ON by default here: output is
    * bounded by tables · 2^nbits · C(bucketCap, 2) pairs whatever the
    * geometry. The cap never engages below ~bucketCap·2^nbits distinct
    * vectors per table (all shipped sf corpora are far under it);
    * where it engages, [[nearDupBucketLoad]] reports exactly how much
    * each bucket was truncated, and the production answer for clustered
    * geometry remains the semantic-dedup family ([[semDedup]] —
    * cluster-restricted pairs at a tight threshold) or top-k
    * ([[cosineTopK]]), not pair enumeration.
    */
  def embeddingNearDupReps(emb: DataFrame, idCol: String, vecCol: String,
                           dim: Int, threshold: Double = 0.9,
                           nbits: Int = 8, tables: Int = 1,
                           bucketCap: Option[Int] = Some(256)): DataFrame = {
    val reps = emb.groupBy(col(vecCol).as("__vec"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_members"))
      .localCheckpoint(true) // feeds the pair join AND two count lookups
    val pairs = embeddingNearDupPairs(
      reps.select(col("rep_id"), col("__vec").as(vecCol)),
      "rep_id", vecCol, dim, threshold, nbits, tables, bucketCap)
    // multiplicity lookups: no broadcast hint — reps is small on a
    // dup-heavy corpus but corpus-sized on an all-distinct one, so the
    // join strategy is left to Catalyst/AQE statistics
    pairs
      .join(reps.select(col("rep_id").as("id_a"),
        col("n_members").as("__na")), Seq("id_a"))
      .join(reps.select(col("rep_id").as("id_b"),
        col("n_members").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sim"),
        (col("__na") * col("__nb")).as("implied_pairs"))
  }

  /** Product-quantization ANN with ADC scoring and exact reranking —
    * the compression path for an embedding store that no longer fits
    * hot storage (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): vectors are unit-normalized, split
    * into `m` subspaces, each subvector coded as its nearest of `ksub`
    * per-subspace centroids (64 floats → m small codes, 16× compression
    * at the defaults), queries score codes via per-subspace
    * distance-table lookups (ADC), and the top-`shortlist` candidates
    * are reranked with the TRUE vectors for the final top-k.
    *
    * Scale shape: codebooks are trained by Lloyd passes over the
    * (corpus × ksub) broadcast join with a map-side max_by argmin —
    * the same discipline as `cosineTopKIvf` — and pinned with an eager
    * localCheckpoint (m·ksub rows) so encode and query consumers don't
    * re-run the training subtree. ADC is a scan of the CODES (m bytes
    * a vector), not the vectors; the only corpus-wide exchanges are
    * the two one-row-per-vector encode aggregations. Rerank touches
    * true vectors for shortlist·queries rows only. At 100 TB you
    * train the codebook on a sample and compose this with IVF lists
    * (the API keeps the stages separable for exactly that reason).
    */
  /** Unit-normalized (id, vec) frame (zero vectors pass through). */
  private def unitBase(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val norm = sqrt(dot(col("vec"), col("vec")))
    emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .select(col("id"), when(norm === 0, col("vec"))
        .otherwise(transform(col("vec"), x => x / norm)).as("vec"))
  }

  /** (id, msub, svec): the subvector frame training and encoding read. */
  private def pqSvecs(base: DataFrame, m: Int, sub: Int): DataFrame =
    base.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("vec"), i * sub + 1, lit(sub)))).as(Seq("msub", "svec")))

  /** Per-subspace nearest-centroid assignment: argmin ‖a−b‖² ≡ argmax
    * (a·b − ‖b‖²/2) with ‖b‖²/2 precomputed per centroid, so the hot
    * loop runs the NATIVE codegen'd dot product instead of an
    * interpreted zip_with (HOFs are CodegenFallback — measured ~2× on
    * the whole query). max_by on (score, -cid): the ksub candidates for
    * a subvector are co-located after the broadcast join, so the agg
    * partial-aggregates map-side (IVF discipline).
    */
  private def pqNearest(svecs: DataFrame, cb: DataFrame): DataFrame = {
    val scored = cb.select(col("msub"), col("cid"), col("cvec"),
      (dot(col("cvec"), col("cvec")) / 2).as("cnorm"))
    svecs.join(broadcast(scored), Seq("msub"))
      .select(col("id"), col("msub"), col("svec"), col("cid"),
        round(dot(col("svec"), col("cvec")) - col("cnorm"), 9).as("score"))
      .groupBy("id", "msub")
      .agg(max_by(struct(col("cid"), col("svec")),
        struct(col("score"), negate(col("cid")))).as("best"))
      .select(col("id"), col("msub"), col("best.cid").as("cid"),
        col("best.svec").as("svec"))
  }

  /** Per-subspace codebooks: deterministic hash-spread init + Lloyd
    * passes, pinned with an eager localCheckpoint (m·ksub rows) so the
    * encode and query consumers don't re-run the training subtree.
    *
    * A Lloyd pass DROPS centroids that win no subvectors (routine when
    * the corpus has duplicate subvectors: identical init centroids tie
    * and the min cid takes every assignment), so surviving cids can be
    * non-contiguous — but codes index the ADC tables POSITIONALLY, and
    * a gap would misalign every score above it (and overrun the table
    * for the largest cid: a data-dependent ANSI crash). The surviving
    * cids are therefore RE-DENSIFIED to 0..k-1 per subspace before the
    * checkpoint; rank order preserves the old cid order, so encode,
    * dtabs, and codes stay mutually consistent. `private[graft]` so the
    * contiguity contract is spec-pinned (PqCodebookSpec).
    */
  private[graft] def pqCodebook(svecs: DataFrame, ksub: Int,
                                refineIters: Int): DataFrame = {
    var codebook = svecs.withColumn("rn", row_number().over(
        Window.partitionBy("msub")
          .orderBy(pmod(hash(col("id")), lit(1000003)).asc, col("id").asc)))
      .filter(col("rn") <= ksub)
      .select(col("msub"), (col("rn") - 1).cast("int").as("cid"),
        col("svec").as("cvec"))
    for (_ <- 0 until refineIters) {
      codebook = pqNearest(svecs, codebook)
        .select(col("msub"), col("cid"), posexplode(col("svec")).as(Seq("pos", "v")))
        .groupBy("msub", "cid", "pos").agg(avg("v").as("mv"))
        .groupBy("msub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s.getField("mv")).as("cvec"))
    }
    val dense = codebook.withColumn("cid",
      (row_number().over(Window.partitionBy("msub").orderBy(col("cid").asc)) - 1)
        .cast("int"))
    dense.localCheckpoint(true)
  }

  /** PQ codes per vector, assembled in subspace order: (id, codes). */
  private def pqEncode(svecs: DataFrame, codebook: DataFrame): DataFrame =
    pqNearest(svecs, codebook)
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("msub"), col("cid")))),
        s => s.getField("cid")).as("codes"))

  /** Per-query ADC tables: dtab[msub][cid] = inner product of the query
    * subvector with the centroid (unit-norm vectors ⇒ summed subspace
    * IPs = cosine estimate). Output: (qid, qvec, dtabs).
    */
  private def pqDtabs(queries: DataFrame, codebook: DataFrame,
                      sub: Int): DataFrame =
    queries.crossJoin(broadcast(codebook))
      .select(col("qid"), col("qvec"), col("msub"), col("cid"),
        dot(slice(col("qvec"), col("msub") * sub + 1, lit(sub)),
          col("cvec")).as("ip"))
      .groupBy("qid", "qvec", "msub")
      .agg(transform(array_sort(collect_list(struct(col("cid"), col("ip")))),
        s => s.getField("ip")).as("tab"))
      .groupBy("qid", "qvec")
      .agg(transform(array_sort(collect_list(struct(col("msub"), col("tab")))),
        s => s.getField("tab")).as("dtabs"))

  /** ADC lookup sum for a (codes, dtabs) row pair — native codegen'd
    * expression (see [[graft.functions.AdcLookupSum]]): the per-
    * candidate hot loop of both PQ paths; the interpreted
    * `aggregate(zip_with(...))` twin it replaced is kept below for the
    * parity spec.
    */
  private def adcSim: Column =
    round(graft.functions.AdcLookupSum.adcNative(col("codes"), col("dtabs")), 6)

  /** The composable built-in form (kept for parity testing, like
    * `dotHof`): same left-to-right summation, same positional lookup.
    */
  private[graft] def adcSimHof(codes: Column, dtabs: Column): Column =
    round(aggregate(zip_with(codes, dtabs,
      (c, t) => element_at(t, c.cast("int") + 1)),
      lit(0.0d), (acc, v) => acc + v), 6)

  /** Shortlist by ADC score, then rerank with TRUE vectors. */
  private def pqShortlistRerank(adc: DataFrame, base: DataFrame,
                                shortlist: Int, k: Int): DataFrame = {
    val wShort = Window.partitionBy("qid")
      .orderBy(col("sim_pq").desc, col("nid").asc)
    val short = adc.withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= shortlist).select("qid", "qvec", "nid")
    val reranked = short.join(base.select(col("id").as("nid"),
        col("vec").as("nvec")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")), 6).as("sim"))
    topK(reranked, k)
  }

  def cosineTopKPq(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, dim: Int, m: Int = 16, ksub: Int = 32,
                   shortlist: Int = 100, k: Int = 5,
                   refineIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val base = unitBase(emb, idCol, vecCol)
    // the subvector frame feeds the codebook init window, every Lloyd
    // pass, and the encode pass — refineIters+2 evaluations of the
    // normalize + m-way posexplode uncached (round 17). Iterative-
    // algorithm discipline: cache it; release is the session owner's
    // clearCache (the established contract). NOTE (round-17 advice):
    // in THIS entry point codebook training and encode consume the same
    // full-corpus svecs frame, so the cache pins m rows per corpus
    // vector (disk-backed at scale). A 100 TB deployment should train
    // the codebook on a sample — that composition is not expressible
    // through cosineTopKPq/cosineTopKIvfPq today (it would need a
    // trainPred parameter), so the full-corpus pin is the honest cost
    // of the shipped API, traded against refineIters+2 corpus passes.
    val svecs = pqSvecs(base, m, sub).cache()
    val codebook = pqCodebook(svecs, ksub, refineIters)
    val codes = pqEncode(svecs, codebook)
    // queryPred applies to the RAW input frame (idCol spelling), the
    // shared cosineTopK* contract — normalization is per-row, so
    // unit-normalizing the filtered subset equals filtering the
    // normalized frame
    val queries = unitBase(emb.filter(queryPred), idCol, vecCol)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val adc = codes.crossJoin(broadcast(pqDtabs(queries, codebook, sub)))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qvec"), col("id").as("nid"), adcSim.as("sim_pq"))
    pqShortlistRerank(adc, base, shortlist, k)
  }

  /** IVF-PQ: the production ANN composition — the coarse quantizer
    * prunes WHICH vectors a query scores (its `nprobe` inverted lists),
    * PQ compresses WHAT gets scored (m-byte codes via ADC lookups), and
    * the exact rerank restores precision on the shortlist. Work per
    * query is O(nlist + nprobe·corpus/nlist ADC lookups + shortlist
    * true dots) — both corpus-size terms bounded, which is what the
    * plain-PQ scaling note demands at 100×. The codes⋈lists join is
    * one-row-per-vector on both sides and co-partitions by id.
    */
  def cosineTopKIvfPq(emb: DataFrame, idCol: String, vecCol: String,
                      queryPred: Column, dim: Int, nlist: Int = 16,
                      nprobe: Int = 8, m: Int = 16, ksub: Int = 32,
                      shortlist: Int = 100, k: Int = 5,
                      refineIters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val base = unitBase(emb, idCol, vecCol)
    val corpus = base.select(col("id").as("nid"), col("vec").as("nvec"))
    val centroids = ivfTrain(corpus, nlist, refineIters)
    val lists = ivfAssign(corpus, centroids).select("nid", "cid")
    // cached for the same reason as in cosineTopKPq (3 consumers)
    val svecs = pqSvecs(base, m, sub).cache()
    val codebook = pqCodebook(svecs, ksub, refineIters)
    val listed = pqEncode(svecs, codebook)
      .join(lists, col("id") === col("nid")).select("id", "cid", "codes")
    // raw-input queryPred contract, as in cosineTopKPq
    val queries = unitBase(emb.filter(queryPred), idCol, vecCol)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val probed = ivfProbes(queries, centroids, nprobe).select("qid", "cid")
      .join(pqDtabs(queries, codebook, sub), Seq("qid"))
    val adc = listed.join(broadcast(probed), Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qvec"), col("id").as("nid"), adcSim.as("sim_pq"))
    pqShortlistRerank(adc, base, shortlist, k)
  }
}
