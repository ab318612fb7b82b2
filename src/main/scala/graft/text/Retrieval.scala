package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** How [[Retrieval.bm25TopK]] runs its work — see the route table on
  * [[Retrieval]]. Every route returns the same rows.
  */
sealed trait Bm25Route

object Bm25Route {
  case object Plain extends Bm25Route

  final case class Impact(essTerms: Int = 8) extends Bm25Route {
    require(essTerms >= 1, s"essTerms must be >= 1, got $essTerms")
  }

  final case class Batched(batches: Int) extends Bm25Route {
    require(batches >= 1, s"batches must be >= 1, got $batches")
  }

  /** `n` is the corpus size (one metadata-cheap count), `queryCount`
    * the caller's fixed query sample size. A non-positive budget is
    * rejected: an unknown budget must not route to the unbounded
    * spellings.
    */
  final case class Auto(n: Long, queryCount: Long = 40L,
      scratchBudgetMb: Long = graft.Scratch.nodeBudgetMb)
      extends Bm25Route {
    require(scratchBudgetMb > 0L,
      s"scratchBudgetMb must be > 0, got $scratchBudgetMb")
  }
}

/** Lexical top-k retrieval over the corpus — the BM25 scoring family
  * (Robertson/Sparck-Jones probabilistic weighting with TF saturation
  * and length normalization), the standard tool for query-driven
  * corpus exploration and for mining training data relevant to a seed
  * set ("retrieve documents like these benchmark questions").
  *
  * Two deliberate deviations from textbook BM25, both for cross-engine
  * exactness (and both rank-preserving in the ways that matter):
  *
  *  - RATIONAL idf: `(N - df + 0.5) / (df + 0.5)` — classic BM25 takes
  *    the ln of this. ln is the one op IEEE-754 does NOT require
  *    correctly rounded (libm vs JVM may differ in the last bit), so
  *    the log is dropped rather than hashed-on-hope. Per TERM the map
  *    is strictly monotone (rarer term ⇒ bigger weight, same as with
  *    ln); multi-term sums weight rare terms more sharply than the
  *    log-scaled original — documented, deterministic, and the shape
  *    100 TB cares about (the join structure) is identical.
  *  - FIXED-POINT contributions: each term's `idf · tf_sat` is floored
  *    to integer millionths BEFORE the per-(query, doc) sum. Double
  *    addition is order-dependent and a shuffled groupBy sums in
  *    arbitrary order — summing exact integers instead makes the score
  *    independent of partitioning (the same trick the integer-embed
  *    family uses), at a bounded 1e-6-per-term score quantization.
  *
  * Everything upstream of the floor is a fixed sequence of IEEE
  * +,-,*,/ on integer-exact doubles — both engines replay it bitwise.
  *
  * ONE entry point, [[Retrieval.bm25TopK]]. Its `route` ([[Bm25Route]])
  * decides only how the work runs: every route returns the same rows
  * (spec-pinned in RetrievalSpec, one shared DuckDB oracle).
  *
  * | Route | What it runs | `Auto` picks it when |
  * |---|---|---|
  * | `Plain` (default) | one screened postings index; every query-term posting is scored, summed and ranked | the estimated index fits `scratchBudgetMb` and `n` < [[Retrieval.bm25ImpactCrossoverDocs]] |
  * | `Impact(essTerms)` | the `essTerms` highest-impact terms per query set a threshold θ; the common terms' long postings are joined only for docs that can still reach θ | the estimated index fits and `n` ≥ the crossover |
  * | `Batched(batches)` | the query sample in `batches` groups, each scored like `Plain` and checkpointed before the next starts; the tokens are staged once to scratch parquet when `batches` > 1 | the estimated index (`bm25ScratchEstimateMb`) exceeds `scratchBudgetMb`; `batches` is the count that fits |
  * | `Auto(n, queryCount, scratchBudgetMb)` | one of the three above, chosen from the corpus size, the query count and the node's scratch budget | — |
  *
  * The measured constants behind `Auto`, each with its provenance on
  * the val: [[Retrieval.bm25ImpactCrossoverDocs]] (250k docs — plain
  * wins 2.75× at 150k, impact 2.1× at 500k),
  * [[Retrieval.bm25ScratchMbPer1MDocsPer10Queries]] (~3 GB per 1M docs
  * per 10 queries, round 15 at 10M docs) and
  * [[graft.Scratch.nodeBudgetMb]] (48 GiB). Staging the
  * tokens of a batched run measured 0.83× the per-batch re-tokenize at
  * equal peak scratch (round 16, v2-5M, 4 batches).
  *
  * Scale shape: the distinct query-term set (fixed query count ×
  * bounded per-doc vocabulary — broadcast-sized) screens the token
  * explode BEFORE the index aggregation, so the only shuffled index is
  * the query-term postings, Σ_{query terms} df(term) rows — never the
  * full corpus×vocabulary index; df/tf stay exact because filtering by
  * term drops no occurrence of a query term. (First spelling built the
  * full index and then joined 99% of it away: measured 22.3× wall for
  * 10× data at the 5M-doc probe, spill-bound on a ~1e9-row shuffle.)
  * Terms present in more than `maxDfFrac` of the corpus are dropped
  * from SCORING (their rational idf ≈ 1 — no ranking signal, dominant
  * join cost; the classical stopword-pruning move, expressed as a
  * FRACTION so the cap scales with the corpus instead of silently
  * emptying the index as N grows past any absolute bound). True df —
  * computed BEFORE the cap — still feeds idf for surviving terms.
  * The query side is a fixed-count sample: its term list stays
  * broadcast-sized, so the candidate join is broadcast on one side and
  * the per-doc side never shuffles until the (qid, nid) partial-agg
  * sum. Cost ∝ Σ_{query terms} df(term) — linear in corpus size for a
  * fixed query count, linear in the query count, never all-pairs. The
  * `Impact` route is the relational first cut of impact ordering
  * (WAND / max-score); block-max ordering is not implemented.
  */
object Retrieval {

  /** The screened query-term postings (`tf`: nid, dl, tid, tf) and the
    * annotated + df-capped query-term frame (`qterms`: tid, qid, df,
    * n, sl) every route shares — split out so all routes consume the
    * EXACT same frames (any drift between them would break their
    * spec-pinned output equality).
    *
    * Term identity in every shuffled/aggregated frame is `tid`, the
    * term's 60-bit portable md5 base
    * ([[graft.neardup.NearDup.portableBase]]) — 8 fixed bytes where the
    * r14 spelling shuffled the term string through the postings
    * aggregation, the df aggregate, and the scoring join (round 14
    * measured the postings index mass as the 10M-doc single-node spill
    * wall: ~15 GB of index+shuffle scratch per 1M docs per 40-query
    * batch, strings a large share of the row). The md5 is computed ONLY
    * on the broadcast-sized query-term set — the corpus-side explode
    * still joins on the raw string (a broadcast hash join, no shuffle)
    * and picks the tid up from the broadcast row, so no per-occurrence
    * cryptographic work is added. A tid collision between two distinct
    * query terms merges their postings (birthday bound over a ≤ few
    * thousand query-term vocabulary: ~1e-11) — and the oracle keys on
    * the same 15-nibble md5 prefix, so both engines merge identically.
    */
  private[graft] case class Bm25Parts(tf: DataFrame, qterms: DataFrame)

  private[graft] def bm25Parts(corpus: DataFrame, idCol: String,
                               textCol: String, queryPred: Column,
                               maxDfFrac: Double): Bm25Parts =
    bm25PartsToks(
      corpus.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk")),
      idCol, queryPred, maxDfFrac)

  /** [[bm25Parts]] over an ALREADY-TOKENIZED frame `(idCol, tk)` — the
    * seam the batched route plugs its staged scratch-parquet read
    * into, so each query batch re-scans
    * fixed token arrays instead of re-running the tokenizer over the
    * raw text. `queryPred` must reference only `idCol` (both callers'
    * preds are id-hash predicates); tokenization is deterministic and
    * parquet round-trips array<string> losslessly, so the two paths are
    * output-identical by construction (spec-pinned).
    */
  private[graft] def bm25PartsToks(toks0: DataFrame, idCol: String,
                                   queryPred: Column,
                                   maxDfFrac: Double): Bm25Parts = {
    val toks = toks0.select(col(idCol).as("nid"), col("tk"))
    // corpus stats: one 1-row aggregate (docs INCLUDING token-less ones;
    // integer sum, so avgdl is one exact division both engines replay)
    val stats = toks.agg(count(lit(1)).as("n"), sum(size(col("tk"))).as("sl"))
    // the query's distinct term ids: tokenized from the sampled query
    // docs, fingerprinted, distinct UNDER the tid identity (one row per
    // (qid, tid) — the grouping identity every downstream frame uses)
    val qterms0 = toks0.filter(queryPred)
      .select(col(idCol).as("qid"),
        explode(array_distinct(col("tk"))).as("term"))
    val qtid = qterms0
      .select(col("qid"), graft.neardup.NearDup.portableBase(col("term")).as("tid"))
      .distinct()
    // the distinct query-term set is broadcast-sized (fixed query count
    // × bounded per-doc vocabulary), and it prunes the INDEX BUILD
    // itself: only postings for query terms survive the explode, so the
    // (nid, dl, tid) aggregation shuffles Σ_{query terms} df(term)
    // rows, not the full corpus×vocabulary index (~1e9 (doc, term)
    // pairs at the 5M-doc probe — measured 22.3× for 10× data when the
    // full index was built and then 99% of it dropped on the qterms
    // join; scoring only ever consumes query-term postings, and df for
    // non-query terms was computed only to be discarded). The set
    // carries (term, tid) so the corpus side never hashes
    val qset = qterms0.select("term").distinct()
      .withColumn("tid", graft.neardup.NearDup.portableBase(col("term")))
    // query-term inverted index with per-doc length riding along:
    // (nid, dl, tid, tf). Filtering by term drops no (doc, term) pair
    // OF A QUERY TERM, so tf and df stay exact for every surviving term
    // the screened index is MATERIALIZED (cached): every scorer
    // consumes it at least twice (df annotation + scoring; the impact
    // path four times) and each uncached consumer re-runs the corpus
    // tokenize+explode+aggregate — a real engine builds its inverted
    // index once. Measured at the 500k-doc Zipf corpus (single-rep):
    // x86 159s → 107s, x70 113s → 98s. Release is the session owner's
    // clearCache (the established contract)
    val tf = toks
      .select(col("nid"), size(col("tk")).as("dl"),
        explode(col("tk")).as("term"))
      .join(broadcast(qset), Seq("term"))
      .groupBy("nid", "dl", "tid")
      .agg(count(lit(1)).as("tf"))
      .cache()
    // true document frequency, computed BEFORE the cap so idf is honest
    val dfs = tf.groupBy("tid").agg(count(lit(1)).as("df"))
    // query terms annotated with df + corpus stats and CAP-FILTERED
    // here, so the fractional cap prunes the candidate join too (capped
    // terms never reach the corpus-sized side; the bound is the floor
    // of one IEEE multiply both engines replay)
    val qterms = qtid
      .join(dfs, Seq("tid"))
      .crossJoin(stats)
      .filter(col("df") <= floor(lit(maxDfFrac) * col("n").cast("double")))
    Bm25Parts(tf, qterms)
  }

  /** Rational idf over the (qterms-joined) columns — shared by the
    * contribution and its upper bound so they floor the SAME double.
    */
  private def idfExpr: Column =
    ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))

  /** The exact per-posting contribution `floor(idf · tf_sat · 1e6)` over
    * a (tf ⋈ qterms) joined frame. Every float literal is computed HERE
    * and interpolated into the oracle SQL by the caller — neither engine
    * does constant arithmetic of its own, so the doubles agree bitwise.
    */
  private def contribExpr(k1: Double, b: Double): Column = {
    val avgdl = col("sl").cast("double") / col("n").cast("double")
    val tfsat = col("tf").cast("double") * lit(k1 + 1) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / avgdl))
    floor(idfExpr * tfsat * lit(1e6))
  }

  /** Deterministic top-k per query over summed contributions. */
  private def topKByScore(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)
    scored.groupBy("qid", "nid").agg(sum(col("c")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Exact contributions `(qid, nid, c)` of every posting of `qterms`'
    * terms, the query doc itself excluded.
    */
  private def contribs(tf: DataFrame, qterms: DataFrame, k1: Double,
                       b: Double): DataFrame =
    tf.join(broadcast(qterms), Seq("tid"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), contribExpr(k1, b).as("c"))

  /** Plain scoring: every query-term posting, summed and ranked. */
  private def plainTopK(parts: Bm25Parts, k1: Double, b: Double,
                        k: Int): DataFrame =
    topKByScore(contribs(parts.tf, parts.qterms, k1, b), k)

  /** Top-k BM25-scored corpus docs per query doc. Output one row per
    * (query, hit): (qid, nid, score, rnk) — `score` in integer
    * millionths, `rnk` the dense 1-based rank (score DESC, nid ASC
    * deterministic tiebreak). The query doc itself is excluded.
    *
    * `route` picks how the work runs (see the route table in the
    * [[Retrieval]] header); the output does not depend on it.
    *
    * `queryPred` must reference ONLY `idCol`: the predicate is applied
    * to the projected `(idCol, tokens)` frame (so the tokenize runs
    * once, not once per consumer), and a predicate naming `textCol` or
    * any other corpus column fails analysis. Both shipped callers use
    * id-hash sampling predicates; a caller needing a content predicate
    * filters the corpus BEFORE calling (the filtered frame is the
    * corpus, so df/idf then honestly reflect the filtered collection).
    */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
               queryPred: Column, route: Bm25Route = Bm25Route.Plain,
               k1: Double = 1.2, b: Double = 0.75, k: Int = 5,
               maxDfFrac: Double = 0.9): DataFrame = {
    def parts = bm25Parts(corpus, idCol, textCol, queryPred, maxDfFrac)
    route match {
      case Bm25Route.Plain => plainTopK(parts, k1, b, k)
      case Bm25Route.Impact(essTerms) => impactTopK(parts, k1, b, k, essTerms)
      case Bm25Route.Batched(batches) =>
        batchedTopK(corpus, idCol, textCol, queryPred, batches, k1, b, k,
          maxDfFrac)
      case Bm25Route.Auto(n, queryCount, scratchBudgetMb) =>
        // survival axis first (the only route that completes above the
        // node's scratch budget), then the CPU axis
        val batches = bm25AutoBatches(n, queryCount, scratchBudgetMb)
        val chosen =
          if (batches > 1) Bm25Route.Batched(batches)
          else if (n < bm25ImpactCrossoverDocs) Bm25Route.Plain
          else Bm25Route.Impact()
        bm25TopK(corpus, idCol, textCol, queryPred, chosen, k1, b, k,
          maxDfFrac)
    }
  }

  /** The `Impact` route — impact-ordered exact BM25 top-k, the
    * relational first cut of WAND / max-score pruning (Broder et al.
    * 2003; Turtle & Flood 1995). Same postings, same fixed-point
    * contributions, same tiebreak as `Plain`; only the WORK is routed
    * differently:
    *
    *  1. Split each query's terms into the `essTerms` highest-impact
    *     ("essential": rarest, largest upper-bound contribution) terms
    *     and the rest, by the ANALYTIC per-posting bound
    *     `ub = floor(idf·(k1+1)·1e6)` (tf_sat < k1+1 for every tf/dl,
    *     so ub needs only df — no postings touched).
    *  2. Score the essential postings EXACTLY (cheap: rare terms have
    *     the short posting lists). The per-query k-th essential score
    *     is the threshold θ; `bound = Σ_{non-essential} ub` caps what
    *     the remaining terms can ever add.
    *  3. A doc outside the essential candidates has final score
    *     ≤ 0 + bound; an essential-scored doc s_e tops out at
    *     s_e + bound. Contributions are non-negative integers, so
    *     anything `< θ` can never displace the θ-setting docs — prune
    *     it BEFORE the common terms' long posting lists are joined.
    *     The non-essential join then runs only against the surviving
    *     candidate (qid, nid) pairs (nid-screened, then pair-screened).
    *  4. Queries where the bound CAN reach θ (or with < k essential
    *     hits) fall back to full scoring — exactness never depends on
    *     the pruning engaging.
    *
    * Scale shape: the dominant x70 cost at the 5M-doc probe was the
    * postings aggregation + the Q·Σdf score shuffle; here the common
    * terms' (huge) postings feed the score aggregation only for
    * candidate docs — O(queries · (k + slack)) pairs — instead of
    * every (query, doc-sharing-a-term) pair. On a Zipfian vocabulary
    * the essential lists are the short tail lists, so θ is set almost
    * for free. The candidate frames are top-k-bounded by construction
    * (broadcast below); adversarial corpora where the analytic bound
    * is loose degrade to x70's exact cost, never worse than 2× it.
    *
    * Cache ownership: the postings/query-term/essential-score frames
    * are `.cache()`d (each feeds 2-3 downstream consumers); release is
    * the SESSION OWNER's job (Bench/Verify clearCache), the established
    * contract.
    *
    * EAGER construction (round-17 advice, documented): building this
    * frame runs real Spark work — one job that fills the postings/
    * essential-score caches and collects the per-query routing metadata
    * (θ, bound, open — one row per query), plus one job collecting the
    * top-k-bounded candidate set when any query prunes. Plan-only
    * consumers (Plans audit, deferred-execution callers) pay that
    * corpus pass at construction time. Both collects are of frames the
    * round-17 plan already collected to the driver as broadcast-
    * exchange inputs — same driver-memory class, ~10 fewer scheduler
    * rounds per invocation (round 18, guide §2.6).
    */
  private def impactTopK(parts: Bm25Parts, k1: Double, b: Double, k: Int,
                         essTerms: Int): DataFrame = {
    val tf = parts.tf
    val impact = bm25ImpactParts(parts, k1, b, k, essTerms)
    // every scaffolding frame except sE is a LocalRelation (driver-local
    // rows — see bm25ImpactParts), so the routing below reads them
    // without jobs, arms with no queries are dropped from the plan
    // entirely, and every broadcast build in the assembly is job-free.
    // Rows are driver-sorted, so the literal screens — and with them
    // the canonicalized plan the auto≡forced identity spec compares —
    // are deterministic across invocations.
    val metaRows = impact.qmeta.collect() // local rows: no job
    val openQids = metaRows.filter(_.getBoolean(3)).map(_.get(0)).toSeq
    val anyPruned = metaRows.exists(!_.getBoolean(3))
    // open queries: the plain exact join over ALL their terms (≡ x70
    // restricted to those queries)
    val openScored: Option[DataFrame] =
      if (openQids.isEmpty) None
      else Some(contribs(tf, impact.qt.filter(col("qid").isin(openQids: _*)),
        k1, b))
    // pruned queries: the common terms' long posting lists meet ONLY
    // the candidate docs — nid screen first (cuts the posting rows),
    // pair screen second (a doc may be candidate for one query but not
    // another). All three screens are LocalRelations built from the
    // collected candidate rows (the r17 plan collected the same rows to
    // the driver twice, as broadcast-exchange inputs).
    val prunedScored: Option[DataFrame] = if (!anyPruned) None else {
      val candE = impact.candE
      val candRows = candE.collect() // local rows: no job
      val session = tf.sparkSession
      def ids(vals: Seq[Any], name: String) = session.createDataFrame(
        java.util.Arrays.asList(vals.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          candE.schema(name).copy(name = name))))
      val candNids = ids(candRows.map(_.get(1)).distinct.toSeq, "nid")
      val candPairs = candE.select("qid", "nid")
      val prunedQids = metaRows.filterNot(_.getBoolean(3)).map(_.get(0)).toSeq
      val qNonPruned = impact.qNon.filter(col("qid").isin(prunedQids: _*))
      val nScored = tf.join(broadcast(candNids), Seq("nid"))
        .join(broadcast(qNonPruned), Seq("tid"))
        .filter(col("nid") =!= col("qid"))
        .join(broadcast(candPairs), Seq("qid", "nid"))
        .select(col("qid"), col("nid"), contribExpr(k1, b).as("c"))
      // assemble: every candidate pair contributes its exact essential
      // score once (as a c-row) plus its non-essential contributions —
      // summed by the same topK aggregate the open path uses
      Some(candE.select(col("qid"), col("nid"), col("s_e").as("c"))
        .unionAll(nScored))
    }
    val scored = (openScored.toSeq ++ prunedScored.toSeq)
      .reduceOption(_ unionAll _)
      // no queries at all (empty corpus / empty sample): an empty frame
      // with the contract (qid, nid, c) shape keeps topKByScore's
      // output schema intact
      .getOrElse(impact.sE.select(col("qid"), col("nid"), col("s_e").as("c"))
        .filter(lit(false)))
    topKByScore(scored, k)
  }

  /** The impact-split scaffolding the `Impact` route routes work with:
    * `qt` (qterms + analytic per-posting upper bound), its
    * essential/non-essential split (`qEss`/`qNon`), the exact essential
    * partial scores `sE` (distributed, lazy), the pruned-query
    * candidate pairs `candE`, and `qmeta` — one row per query with θ
    * (k-th essential score, null ⇒ <k hits), the non-essential mass
    * bound, and the `open` routing flag. Since round 18 every frame
    * except `sE` is a LocalRelation: the query side is broadcast-sized
    * BY DESIGN, so the whole scaffolding (upper bounds, essential
    * split, bounds, θ routing, candidate screens) is computed from two
    * driver collects instead of ~11 tiny-frame exchanges — measured at
    * sf0.1, the r17 spelling spent ~24 scheduler rounds on frames of
    * ≤ a few hundred rows (guide §2.6: fewer, fatter stages). qmeta is
    * private[graft] so the spec can assert the prune actually ENGAGES
    * on a Zipfian fixture (equality alone would hold vacuously if
    * every query routed open).
    */
  private[graft] case class Bm25ImpactParts(qt: DataFrame, qEss: DataFrame,
      qNon: DataFrame, sE: DataFrame, candE: DataFrame, qmeta: DataFrame)

  private[graft] def bm25ImpactParts(parts: Bm25Parts, k1: Double, b: Double,
      k: Int, essTerms: Int): Bm25ImpactParts = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val tf = parts.tf
    val session = tf.sparkSession
    def local(rows: Seq[Row], schema: StructType): org.apache.spark.sql.DataFrame =
      session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    // ---- pass 1 (one job): collect the query-term frame ----
    // qterms is broadcast-sized BY DESIGN (fixed query count × bounded
    // per-doc vocabulary) and round 17's plan already collected it to
    // the driver as the input of several broadcast exchanges. Collect
    // it ONCE instead (filling the `tf` cache on its lineage — `dfs`
    // reads tf — so no later consumer races the lazy fill, the x65
    // lesson) and compute the entire query-side scaffolding in plain
    // Scala: the r17 spelling ran the upper bound, the essential-split
    // window (twice — qEss and qNon each re-evaluated it), the θ
    // window, the bound aggregate and three qmeta joins as SEPARATE
    // shuffled jobs over ≤ a few-hundred-row frames — ~24 scheduler
    // rounds, ~5s of pure per-stage floor at sf0.1 while the plain
    // spelling's whole query runs in ~1.6s (ImpactProbe, round 18).
    val qSchema = parts.qterms.schema // (tid, qid, df, n, sl)
    val iTid = qSchema.fieldIndex("tid"); val iQid = qSchema.fieldIndex("qid")
    val iDf = qSchema.fieldIndex("df"); val iN = qSchema.fieldIndex("n")
    val qtRows = parts.qterms.collect()
    // analytic upper bound on any single posting's contribution:
    // idf·tf_sat < idf·(k1+1), and floor is monotone, so c ≤ ub per
    // posting — from df alone. Replicated BIT-EXACTLY from the Spark
    // spelling floor(idfExpr · lit(k1+1) · lit(1e6)): same IEEE op
    // sequence on the same JVM doubles — (n−df) integer subtract, cast,
    // +0.5, divide, ·(k1+1), ·1e6, Math.floor — so the driver-computed
    // bound can never fall below a Spark-computed contribution (pruning
    // soundness depends on ub ≥ c; a different association order could
    // differ in the last ulp and prune a θ-tying doc).
    def ubOf(r: Row): Long = {
      val idf = ((r.getLong(iN) - r.getLong(iDf)).toDouble + 0.5) /
        (r.getLong(iDf).toDouble + 0.5)
      math.floor(idf * (k1 + 1) * 1e6).toLong
    }
    // deterministic driver ordering: the LocalRelation rows become plan
    // literals, and the auto≡forced plan-identity spec compares
    // canonicalized plans — an unsorted collect would leak shuffle
    // arrival order into the plan. qid is the caller's id type (not
    // necessarily long), so order by its string form — any stable total
    // order works, values are unaffected.
    def qkey(v: Any): String = String.valueOf(v)
    val sorted = qtRows.map(r => (r, ubOf(r)))
      .sortBy { case (r, _) => (qkey(r.get(iQid)), r.getLong(iTid)) }
    // essential split per query: the essTerms highest-impact terms
    // (ub DESC, tid ASC — deterministic). The OUTPUT is split-
    // invariant; the split only routes work, which the equality spec
    // exploits by sweeping essTerms.
    val byQid = sorted.groupBy { case (r, _) => r.get(iQid) }
      .toSeq.sortBy { case (q, _) => qkey(q) }
    val essB = Seq.newBuilder[Row]; val nonB = Seq.newBuilder[Row]
    val boundsB = Seq.newBuilder[(Any, Long)]
    byQid.foreach { case (q, rows) =>
      val ranked = rows.sortBy { case (r, ub) => (-ub, r.getLong(iTid)) }
      val (ess, non) = ranked.splitAt(essTerms)
      essB ++= ess.map { case (r, ub) => Row.fromSeq(r.toSeq :+ ub) }
      nonB ++= non.map { case (r, ub) => Row.fromSeq(r.toSeq :+ ub) }
      // Σ non-essential ub — exact long addition, as Spark's sum(long)
      boundsB += (q -> non.iterator.map(_._2).sum)
    }
    val qtSchema = StructType(qSchema.fields :+
      StructField("ub", LongType, nullable = false))
    val essRows = essB.result(); val nonRows = nonB.result()
    val qEss = local(essRows, qtSchema)
    val qNon = local(nonRows, qtSchema)
    val qt = local(essRows ++ nonRows, qtSchema)
    val qidField = qSchema("qid")

    // exact partial scores over the essential (short) posting lists —
    // the one genuinely corpus-sized frame here; distributed and LAZY
    // (not cached: its only consumer is the single pass-2 job below —
    // r17 cached it for three consumers that no longer exist)
    val sE = contribs(tf, qEss, k1, b)
      .groupBy("qid", "nid").agg(sum(col("c")).as("s_e"))

    // ---- pass 2 (one job): θ + candidate screen in ONE window pass ----
    // θ = the k-th best essential partial score per query (absent ⇒ <k
    // essential hits ⇒ no pruning); a doc outside the essential
    // candidates tops out at 0 + bound, an essential-scored doc at
    // s_e + bound — so rows are collected when they carry θ information
    // (rn ≤ k) or survive the ceiling test (the r17 candE filter,
    // verbatim). Both window functions share the qid partitioning, so
    // this is ONE exchange where r17 ran the θ window, the candidate
    // join and two candidate-screen broadcast builds as separate jobs.
    val bounds = boundsB.result()
    val boundL = local(
      bounds.map { case (q, bd) => Row(q, bd) },
      StructType(Seq(qidField,
        StructField("bound", LongType, nullable = false))))
    val thetaW = Window.partitionBy("qid").orderBy(col("s_e").desc, col("nid").asc)
    val picked: Array[Row] =
      if (qtRows.isEmpty) Array.empty
      else sE.join(broadcast(boundL), Seq("qid"))
        .withColumn("__rn", row_number().over(thetaW))
        .withColumn("__theta",
          max(when(col("__rn") === k, col("s_e")))
            .over(Window.partitionBy("qid")))
        .filter(col("__rn") <= k ||
          (col("__theta").isNotNull && col("bound") < col("__theta") &&
            col("s_e") + col("bound") >= col("__theta")))
        .select(col("qid"), col("nid"), col("s_e"), col("__rn"), col("__theta"))
        .collect()

    // ---- driver routing: θ/open per query, candidate set ----
    val thetaMap: Map[Any, Long] = picked.iterator
      .filter(r => r.getInt(3) == k).map(r => r.get(0) -> r.getLong(2)).toMap
    val boundMap: Map[Any, Long] = bounds.toMap
    def openQ(q: Any): Boolean =
      !thetaMap.contains(q) || boundMap(q) >= thetaMap(q)
    // candidates: essential-scored docs of PRUNED queries whose ceiling
    // s_e + bound still reaches θ (ties kept — prune only strictly
    // below). For a pruned query every collected row qualifies: rn ≤ k
    // rows have s_e ≥ θ, the rest passed the ceiling filter above.
    // nid carries the same id type as qid (both are idCol values)
    val candSchema = StructType(Seq(qidField,
      StructField("nid", qidField.dataType, nullable = true),
      StructField("s_e", LongType, nullable = true)))
    val candRows = picked.iterator
      .filter(r => !openQ(r.get(0)))
      .map(r => Row(r.get(0), r.get(1), r.getLong(2))).toSeq
      .sortBy(r => (qkey(r.get(0)), qkey(r.get(1))))
    val candE = local(candRows, candSchema)
    // qmeta: one row per query — the spec's prune-engagement probe and
    // the assembly's routing input (driver-local rows, no job to read)
    val qmetaSchema = StructType(Seq(qidField,
      StructField("theta", LongType, nullable = true),
      StructField("bound", LongType, nullable = false),
      StructField("open", BooleanType, nullable = false)))
    val qmetaRows = byQid.map { case (q, _) =>
      Row(q, thetaMap.get(q).map(java.lang.Long.valueOf).orNull,
        boundMap(q), openQ(q))
    }
    val qmeta = local(qmetaRows, qmetaSchema)
    Bm25ImpactParts(qt, qEss, qNon, sE, candE, qmeta)
  }

  /** The `Batched` route — query-batch-partitioned exact BM25, the
    * scratch-bounding route the round-14 10M-doc wall asked for. Same
    * rows as `Plain` over the same `queryPred` (per-query scores never
    * depend on other queries, and the deterministic batch split below
    * partitions the query set exhaustively), but the WORK runs one
    * query batch at a time: query docs are routed to `batches` groups
    * by `portableBase(id) mod batches` (engine-portable, lattice-free),
    * and each batch builds, scores, and MATERIALIZES its own screened
    * postings index before the next batch starts — an eager
    * `localCheckpoint` pins the batch's (queries·k)-row result, the
    * batch's index cache is explicitly unpersisted, and a GC nudge lets
    * the ContextCleaner reclaim the batch's shuffle files (Spark frees
    * shuffle scratch only when the dependency is GC'd; without the
    * nudge a long probe can fill the disk with batch-1 files while
    * batch 3 runs — exactly the round-14 failure mode).
    *
    * Peak scratch is therefore ∝ Σ_{batch terms} df — the measured
    * ~15 GB/1M-docs/40-query sizing rule divides by `batches`. The
    * trade: wall-clock up on the scan side, scratch down ~linearly on
    * the shuffle side — size `batches` so one batch's index fits the
    * node's scratch budget. batches=1 degenerates to exactly the
    * `Plain` plan plus one checkpoint write of the final (tiny) result.
    *
    * With `batches` > 1 the tokenized corpus `(idCol, tk)` is written
    * ONCE to a scratch-parquet temp dir and every batch reads the
    * staged frame instead of re-running the tokenizer over the raw
    * text — trading one corpus-sized staging write for `batches`×
    * tokenize passes. Measured at v2-5M / 4 batches (round 16, boot
    * `ccb92f53`): 2113.8s re-tokenizing vs **1762.9s staged (0.83×)**
    * at equal peak scratch (14.5 vs 14.3 GB) — the staging write costs
    * less than one tokenize pass and each avoided pass is ~115s/5M
    * docs, so the win GROWS with the batch count; the staged frame is
    * ~0.23 KB/doc (1.17 GB at 5M), disk the run's shuffle budget
    * dwarfs. The temp dir is deleted (try/finally — a failing batch
    * cannot leak a corpus-sized staged parquet) before returning —
    * every batch's result is eagerly localCheckpointed, so nothing
    * references the staged files after the loop. Tokenization is
    * deterministic and parquet round-trips array<string> losslessly.
    *
    * Staging-path resolution: if the session has a checkpoint dir
    * (`sparkContext.setCheckpointDir` — by construction a path every
    * executor can reach), the staged parquet goes under it; otherwise
    * a driver-local temp dir is used, which is correct in LOCAL mode
    * only — a multi-node cluster must set a checkpoint dir before it
    * runs this route. Deletion goes through the path's Hadoop
    * FileSystem, so both shapes clean up.
    */
  private def batchedTopK(corpus: DataFrame, idCol: String, textCol: String,
                          queryPred: Column, batches: Int, k1: Double,
                          b: Double, k: Int, maxDfFrac: Double): DataFrame = {
    val sc = corpus.sparkSession.sparkContext
    val tokens =
      corpus.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
    val stageDir: Option[String] =
      if (batches > 1)
        Some(sc.getCheckpointDir match {
          case Some(ckpt) => new org.apache.hadoop.fs.Path(ckpt,
            s"bm25toks-${java.util.UUID.randomUUID()}").toString
          case None =>
            java.nio.file.Files.createTempDirectory("bm25toks").toString
        })
      else None
    try {
      val toks = stageDir.fold(tokens) { dir =>
        tokens.write.mode("overwrite").parquet(dir)
        graft.Tables.parquet(corpus.sparkSession, dir)
      }
      val results = (0 until batches).map { bi =>
        val predB = queryPred &&
          pmod(graft.neardup.NearDup.portableBase(col(idCol).cast("string")),
            lit(batches.toLong)) === lit(bi.toLong)
        val parts = bm25PartsToks(toks, idCol, predB, maxDfFrac)
        // eager: the batch runs HERE, its result pinned as local blocks;
        // the driver loop is control-only (fixed `batches` iterations)
        val pinned = plainTopK(parts, k1, b, k).localCheckpoint(true)
        parts.tf.unpersist()
        // shuffle files are reclaimed by the ContextCleaner only after the
        // dropped stage references are GC'd — nudge so batch i's scratch
        // is gone before batch i+1 needs the space. CONDITIONAL (round
        // 17): a full GC in a large heap costs 0.1-1s, and at sf-scale
        // the 4-batch entry paid 4 of them to reclaim ~20 MB; the walk
        // (~ms, graft.Scratch — roots in Spark's own precedence) skips
        // the nudge when the visible scratch trees hold under 1 GiB.
        // When NO scratch root exists at all (cluster mode: shuffle
        // scratch lives on executors) the nudge runs UNCONDITIONALLY —
        // failing toward cleanup, never silently re-opening the
        // round-14 disk wall.
        val (scratchNow, scratchSeen) =
          graft.Scratch.bytesAndFound(sc.getConf)
        if (!scratchSeen || scratchNow > (1L << 30)) System.gc()
        pinned
      }
      results.reduce(_ unionAll _)
    } finally {
      // the staged files are dead once every batch is checkpointed (and
      // on a THROW nothing downstream will read them) — reclaim the
      // scratch via the path's own filesystem, local or distributed
      stageDir.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    }
  }

  /** Corpus size at which the impact-ordered spelling overtakes the
    * plain exact join, measured on the ScaleGenV2 Zipfian corpora
    * (min-of-3, noop sink, boot `a7d7802d`): plain wins 3.6× at 50k
    * docs and 2.75× at 150k; impact wins 2.1× at 500k (46.8s vs
    * 97.6s). The geometric midpoint of the measured bracket
    * [150k, 500k] rounds to 250k. Below it the impact scaffolding
    * (essential split window, θ/bound meta, candidate screens) is pure
    * overhead; above it the candidate-bounded score join beats the
    * Q·Σdf shuffle. On a degenerate (non-Zipfian) vocabulary where
    * pruning cannot engage, the impact side degrades to 1.7× plain
    * (measured, v1 500k corpus) — bounded, never pathological.
    *
    * Upper validity bound, also measured (round 14, PLANS.md): at 10M
    * Zipfian docs BOTH spellings exhaust a single node's ~75 GB of
    * scratch (the shared screened-postings index is ~10^9 rows for a
    * 40-doc query batch — ~15 GB of index+shuffle spill per 1M docs)
    * before their join shapes differentiate, so per-node spill, not
    * this constant, is what a >5M-docs-per-node deployment must size
    * first. The shuffles are key-partitioned, so on a multi-executor
    * cluster the spill shards away linearly with node count and the
    * crossover keeps applying; block-max ordering remains the named
    * CPU-side refinement once the spill budget is provisioned.
    */
  val bm25ImpactCrossoverDocs: Long = 250000L

  /** Measured single-node peak-scratch sizing rule for ONE screened
    * postings index: ~3 GB per 1M corpus docs per 10 query docs
    * (round 15, ScaleGenV2 10M-doc Zipfian corpus: 4 batches × 10
    * queries peaked at 32.2 GB — ~3.2 GB/1M/10q; the round-14 monolith
    * at 40 queries extrapolates to ~120 GB, and indeed filled a ~75 GB
    * node). The estimate covers the index build + score shuffle of the
    * plain AND impact spellings — they share `bm25Parts`, so above a
    * node's scratch budget BOTH die the same way and the only surviving
    * spelling is the batched one.
    */
  val bm25ScratchMbPer1MDocsPer10Queries: Long = 3072L

  /** The `Auto` route's scratch rule, exposed for the spec and the
    * sizing discussion: estimated monolithic-index scratch in MB (the
    * measured rule, linear in docs and in query count), and the batch
    * count that fits `scratchBudgetMb` — 1 when the monolith already
    * fits, otherwise ceil(estimate / budget) capped at `queryCount` (a
    * batch per query is the finest split that still amortizes
    * anything; empty batches would each pay a full corpus tokenize for
    * nothing). `Auto` guarantees a positive budget.
    */
  private[graft] def bm25ScratchEstimateMb(n: Long, queryCount: Long): Long =
    math.ceil(bm25ScratchMbPer1MDocsPer10Queries
      * (n / 1e6) * (queryCount / 10.0)).toLong

  private[graft] def bm25AutoBatches(n: Long, queryCount: Long,
                                     scratchBudgetMb: Long): Int = {
    val est = bm25ScratchEstimateMb(n, queryCount)
    if (est <= scratchBudgetMb) 1
    else {
      val want = math.ceil(est.toDouble / scratchBudgetMb).toLong
      math.max(1L, math.min(want, math.max(1L, queryCount))).toInt
    }
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of per-query
    * ranked lists — the standard hybrid-retrieval combiner: each ranker
    * contributes `1 / (kRrf + rank)` per hit and the fused order is the
    * sum, so agreement between rankers beats a high rank in any single
    * one. This is how sparse (BM25) and dense (embedding) retrieval are
    * fused in production RAG / training-data-mining stacks — RRF needs
    * no score calibration, only ranks, which is exactly why it
    * cross-engine-hashes: ranks are integers, and the contribution is
    * spelled as `floor(1000000.0 / (kRrf + rnk))` — ONE correctly-
    * rounded IEEE division of integer-exact doubles, floored to
    * millionths (the bm25 fixed-point trick) — so the fused score is an
    * order-independent integer sum both engines replay bitwise.
    *
    * Inputs are (qid, nid, rnk) frames — any ranker output with a
    * 1-based rank column. Scale shape: a union of top-k lists is
    * O(queries · k · rankers) rows — tiny next to the rankers
    * themselves — and the fuse is one partial-agg sum plus a per-query
    * window over ≤ k·rankers rows. Output: (qid, nid, score, rnk) with
    * the deterministic (score DESC, nid ASC) tiebreak, top `k` only.
    */
  def rrfFuse(rankers: Seq[DataFrame], kRrf: Int = 60, k: Int = 5): DataFrame = {
    val contrib = rankers
      .map(_.select(col("qid"), col("nid"),
        floor(lit(1000000.0) /
          (lit(kRrf.toDouble) + col("rnk").cast("double"))).as("c")))
      .reduce(_ unionAll _)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)
    contrib.groupBy("qid", "nid").agg(sum(col("c")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
