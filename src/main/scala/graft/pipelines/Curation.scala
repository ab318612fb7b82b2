package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.neardup.Decontaminate
import graft.ops.{Dedup, Packing, Sampling}
import graft.text.{Pii, TextAnalysis}

/** End-to-end corpus curation — the composed training-data pipeline a
  * user of this library actually runs: quality-gate → language-gate →
  * canonical-fingerprint dedup (keep lowest doc id) → deterministic
  * downsample.
  *
  * Scale shape: the three gates and the fingerprint are COLUMN
  * expressions evaluated in ONE scan pass (not three self-joined
  * sub-pipelines — composing the DataFrame operators naively would scan
  * the corpus once per signal); the only shuffle is the dedup's
  * fingerprint window; the sample is a map-only arithmetic predicate.
  * At 100 TB: one pass over the corpus, one hash exchange on
  * fingerprints, byte-identical output on re-runs.
  */
object Curation {

  /** Curated corpus: doc_id, fingerprint, pred_lang for the kept docs.
    * `keepPer100` is the post-dedup sampling rate (see
    * `Sampling.hashBucket`).
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             lang: String = "en", keepPer100: Int = 50): DataFrame = {
    val enriched = docs.select(
      col(idCol).as("doc_id"),
      TextAnalysis.fingerprintCol(col(textCol)).as("fingerprint"),
      TextAnalysis.predLangCol(col(textCol)).as("pred_lang"),
      TextAnalysis.qualityBucketCol(col(textCol)).as("quality_bucket"))
    val gated = enriched.filter(
      col("quality_bucket") === "ok" && col("pred_lang") === lang)
    val deduped = Dedup.keepFirst(gated, Seq("fingerprint"),
      Seq(col("doc_id").asc))
    deduped
      .filter(Sampling.hashBucket(col("doc_id")) < keepPer100)
      .select("doc_id", "fingerprint", "pred_lang")
  }

  /** The full training-corpus build — every curation stage composed the
    * way a production pretraining pipeline runs them, ending in packed
    * training sequences:
    *
    *   PII-redact → quality/language/repetition gates → benchmark
    *   decontamination (vs `eval`) → exact fingerprint dedup → pack.
    *
    * Stage order matters and is load-bearing: redaction runs FIRST so
    * every downstream signal (fingerprints, shingles, token counts) sees
    * the sanitized text — two docs differing only in redacted spans
    * dedup together, and PII never leaks into the packed output through
    * a fingerprint or a shingle.
    *
    * Scale shape: the redaction and all three gates are column
    * expressions fused into the train-side scan (no signal joins); the
    * decontamination is one broadcast-semi overlap join against the
    * (tiny) eval shingle index; the dedup is one fingerprint exchange;
    * the packing is one shard-keyed window. The gated train frame is
    * read twice (shingle index + anti-join left side) and its text is a
    * 3-deep regex chain that predicate pushdown + projection collapse
    * would substitute into EVERY downstream tokens()/gram/fingerprint
    * reference — and since higher-order functions are CodegenFallback,
    * each of the ~15 references re-runs the interpreted regex chain
    * per row (jstack showed RegExpReplace.nullSafeEval hot; measured
    * 69s vs 2.6s at sf0.1). So the clean layer is built as STAGED
    * projections (text → toks → grams → keep flag, each alias
    * multi-referenced so CollapseProject keeps the stages) and CACHED
    * with the keep decision inside the cache — every expensive
    * expression evaluates exactly once per row and no consumer
    * predicate can substitute the trees back in past the
    * InMemoryRelation barrier. Cache release is the session owner's
    * job (Bench/Verify clearCache between queries); at 100 TB the
    * clean layer would be a materialized table, exactly like the
    * reference's staged clean layer.
    */
  def buildCorpus(train: DataFrame, eval: DataFrame, idCol: String,
                  textCol: String, lang: String = "en", shingleK: Int = 8,
                  budget: Int = 256, shards: Int = 8): DataFrame =
    Packing.packSequences(
      curatedDocs(train, eval, idCol, textCol, lang, shingleK),
      "doc_id", "text", budget, shards)

  /** [[buildCorpus]] up to (and including) the fingerprint dedup — the
    * curated (doc_id, text, fingerprint) frame the packing stage (and
    * [[buildCorpusV2]]'s extra stages) consume.
    */
  def curatedDocs(train: DataFrame, eval: DataFrame, idCol: String,
                  textCol: String, lang: String = "en",
                  shingleK: Int = 8): DataFrame = {
    def redacted(df: DataFrame): DataFrame = df.select(
      col(idCol).as("doc_id"), Pii.redactedCol(col(textCol)).as("text"))
    // staged projections: text (regex chain), then toks/grams, then the
    // keep boolean — each non-cheap alias is multi-referenced by the
    // next stage, so CollapseProject leaves the stages intact and every
    // base expression evaluates ONCE per row; the keep decision lands
    // INSIDE the cache so no consumer's predicate can substitute the
    // expensive trees back in past the InMemoryRelation barrier
    val cleanTrain = redacted(train)
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"),
        TextAnalysis.wordGramsFromToks(col("toks"), TextAnalysis.repetitionN).as("grams"))
      .select(col("doc_id"), col("text"),
        (TextAnalysis.qualityBucketFromToks(col("toks"), col("text")) === "ok" &&
          TextAnalysis.predLangFromToks(col("toks")) === lang &&
          !TextAnalysis.repetitiveFromGrams(col("grams"))).as("keep"))
      .cache()
    val gated = cleanTrain.filter(col("keep")).select("doc_id", "text")
    val decon = Decontaminate.clean(gated, redacted(eval),
      "doc_id", "text", shingleK)
    Dedup.keepFirst(
      decon.withColumn("fingerprint",
        TextAnalysis.fingerprintCol(col("text"))),
      Seq("fingerprint"), Seq(col("doc_id").asc))
  }

  /** The corpus build, second generation — [[buildCorpus]]'s stages plus
    * the two post-dedup passes a production pretraining build runs
    * before packing:
    *
    *   … exact fingerprint dedup → duplicated-SPAN removal (cut every
    *   corpus-repeated k-token run from the survivors — exact dedup
    *   only catches whole-doc twins; shared boilerplate spans survive
    *   it) → temperature-scaled domain mixing (τ=2: kept mass ∝ √n_d
    *   per domain, so the curated mix stops over-representing whatever
    *   domain the gates happened to favor) → pack.
    *
    * Docs whose every token was span-cut drop out before mixing (their
    * domain should not get credit for empty survivors). Scale shape:
    * adds SpanDedup's three linear exchanges and the mix's broadcast
    * stats pass on top of [[buildCorpus]] — still nothing quadratic,
    * still one exchange per stage.
    */
  def buildCorpusV2(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, domainCol: String, lang: String = "en",
                    shingleK: Int = 8, spanK: Int = 8, tau: Int = 2,
                    mixBuckets: Int = 1000, budget: Int = 256,
                    shards: Int = 8): DataFrame =
    new CorpusBuildV2(train, eval, idCol, textCol, domainCol, lang,
      shingleK, spanK, tau, mixBuckets).packed(budget, shards)

  /** Per-stage attrition funnel for the [[buildCorpusV2]] pipeline —
    * the "where did my corpus go" report every production build
    * publishes next to its output: one row per stage with the
    * surviving doc count and the drop vs the previous stage. The three
    * gates are split out in quality → language → repetition order
    * (diagnostic convention; the pipeline itself evaluates them as one
    * conjunction in one pass — the counts compose identically because
    * the conjunction is order-free).
    *
    * Scale shape: the gate flags are ONE staged-projection pass over
    * the corpus (the buildCorpus cache shape) feeding all three gate
    * counts; each later stage adds its own (linear) operator exactly
    * as the pipeline runs it, and every stage frame is cached once and
    * counted once — the funnel costs one extra count-aggregate per
    * stage on top of the build itself. Output: 8 rows.
    */
  def curationFunnel(train: DataFrame, eval: DataFrame, idCol: String,
                     textCol: String, domainCol: String, lang: String = "en",
                     shingleK: Int = 8, spanK: Int = 8, tau: Int = 2,
                     mixBuckets: Int = 1000, nDocs: Option[Long] = None,
                     scratchBudgetMb: Long = graft.Scratch.nodeBudgetMb)
      : DataFrame = {
    val b = new CorpusBuildV2(train, eval, idCol, textCol, domainCol, lang,
      shingleK, spanK, tau, mixBuckets)
    // budget-gated route (round 18, the x89/x92 routing pattern): the
    // fused prime-then-one-job spelling when the estimated one-job
    // scratch fits the node budget, the proven per-stage sequential
    // spelling above it, and whenever the corpus size or the budget is
    // unknown (no nDocs, or a non-positive budget): unknown input fails
    // closed. Output identical either way (spec-pinned); only job
    // structure differs.
    val fuse = nDocs.exists(n => scratchBudgetMb > 0L &&
      funnelOneJobScratchEstimateMb(n) <= scratchBudgetMb)
    if (fuse) b.funnelFused else b.funnel
  }

  /** Measured single-node scratch sizing rule for the ONE-JOB funnel
    * spelling: round 15 measured the unprimed one-job funnel at 72 GB
    * peak scratch on the 5M-doc v2 corpus (~14.7 GB/1M docs) — vs the
    * sequential build's 51 GB — because concurrent count branches
    * raced the unfilled stage caches and recomputed the span dedup.
    * The round-18 fused spelling primes the caches first (one eager
    * build pass) so its true peak is near the build's, but the gate
    * keeps the CONSERVATIVE unprimed constant: a fused funnel above
    * the budget risks the round-14 disk wall, a sequential one below
    * it only costs a few 1-row jobs.
    */
  val funnelOneJobScratchMbPer1MDocs: Long = 14746L

  def funnelOneJobScratchEstimateMb(nDocs: Long): Long =
    math.ceil(funnelOneJobScratchMbPer1MDocs * (nDocs / 1e6)).toLong
}

/** ONE-RUN handle on the v2 pipeline: every stage is a cached lazy
  * frame, so the normal production pair — the packed corpus AND the
  * attrition funnel published next to it — runs the ten-stage DAG once
  * instead of twice (a funnel is by construction "the build plus one
  * count per stage"; rebuilding the pipeline to count it doubles every
  * stage at every scale). `Curation.buildCorpusV2` / `curationFunnel`
  * stay as thin single-artifact wrappers over a fresh instance;
  * callers wanting both construct one instance and read both members
  * (spec-pinned equal to the standalone spellings). Cache release is
  * the session owner's job, same contract as the clean layer.
  *
  * The gate flags are computed as three SEPARATE booleans (q_ok /
  * lang_ok / rep_ok) inside the one staged-projection cache pass: the
  * build consumes their conjunction (order-free, identical rows to the
  * fused `keep` spelling) while the funnel counts the diagnostic
  * quality → language → repetition prefix order — one cache serves
  * both readers.
  */
final class CorpusBuildV2(train: DataFrame, eval: DataFrame, idCol: String,
                          textCol: String, domainCol: String,
                          lang: String = "en", shingleK: Int = 8,
                          spanK: Int = 8, tau: Int = 2,
                          mixBuckets: Int = 1000) {
  private def redacted(df: DataFrame): DataFrame = df.select(
    col(idCol).as("doc_id"), Pii.redactedCol(col(textCol)).as("text"))

  /** Staged-projection clean pass (the buildCorpus cache shape) with
    * the three gate flags landed INSIDE the cache.
    */
  lazy val flagged: DataFrame = redacted(train)
    .select(col("doc_id"), col("text"),
      TextAnalysis.tokens(col("text")).as("toks"))
    .select(col("doc_id"), col("text"), col("toks"),
      TextAnalysis.wordGramsFromToks(col("toks"), TextAnalysis.repetitionN).as("grams"))
    .select(col("doc_id"), col("text"),
      (TextAnalysis.qualityBucketFromToks(col("toks"), col("text")) === "ok")
        .as("q_ok"),
      (TextAnalysis.predLangFromToks(col("toks")) === lang).as("lang_ok"),
      (!TextAnalysis.repetitiveFromGrams(col("grams"))).as("rep_ok"))
    .cache()

  lazy val gated: DataFrame = flagged
    .filter(col("q_ok") && col("lang_ok") && col("rep_ok"))
    .select("doc_id", "text")

  // deliberately UNcached: the frame is one broadcast-semi join over
  // the cached `gated`, so its second reader (the funnel's stage-5
  // count) re-runs one linear join — cheaper than a corpus-sized
  // cache write the build-only path would pay for nothing
  lazy val decon: DataFrame = Decontaminate.clean(gated, redacted(eval),
    "doc_id", "text", shingleK)

  // the curated layer is consumed three times by SpanDedup (gram
  // frame, positioned tokens, length frame) — uncached, every consumer
  // re-runs the decontaminate join and the dedup window (measured 7.4s
  // vs 2.9s at sf0.1)
  lazy val deduped: DataFrame = Dedup.keepFirst(
    decon.withColumn("fingerprint",
      TextAnalysis.fingerprintCol(col("text"))),
    Seq("fingerprint"), Seq(col("doc_id").asc)).cache()

  // consumed twice by the mix (domain-stats aggregate + keep join)
  lazy val spanned: DataFrame = graft.neardup.SpanDedup
    .removeDuplicatedSpans(deduped, "doc_id", "text", k = spanK)
    .filter(col("n_tokens") - col("n_removed") >= 1)
    .select(col("doc_id"), col("text_clean").as("text")).cache()

  lazy val mixed: DataFrame = Sampling.temperatureSample(
    spanned.join(
      train.select(col(idCol).as("doc_id"), col(domainCol).as("domain")),
      Seq("doc_id")),
    "domain", "doc_id", tau, mixBuckets)

  /** The packed training corpus ([[Curation.buildCorpusV2]]'s output). */
  def packed(budget: Int = 256, shards: Int = 8): DataFrame =
    Packing.packSequences(mixed.select("doc_id", "text"), "doc_id", "text",
      budget, shards)

  /** Per-stage attrition funnel ([[Curation.curationFunnel]]'s output):
    * one count-aggregate per stage over the cached stage frames, 8
    * rows. The three gates are split out in quality → language →
    * repetition order (diagnostic convention; the pipeline evaluates
    * them as one order-free conjunction in one pass).
    *
    * Each stage count is materialized EAGERLY and IN STAGE ORDER (an
    * eager 1-row localCheckpoint per stage), not unioned into one
    * 8-branch job: in a single job every branch's shuffle files
    * coexist on disk and the unpopulated stage caches race (two
    * concurrent branches can compute the same expensive subtree — the
    * span dedup — twice before the cache lands). Round 15 measured the
    * one-job spelling at 72 GB peak scratch vs the build's 51 GB on
    * the same 5M-doc corpus — past the node's disk where the build
    * itself completes. Sequenced, each stage's count reuses the caches
    * its predecessors populated and the funnel's scratch profile is
    * the build's plus eight 1-row jobs. Output is unchanged.
    */
  lazy val funnel: DataFrame =
    assembleFunnel(stages.map { case (i, name, fr) =>
      stageCount(i, name, fr).localCheckpoint(true)
    })

  /** The fused funnel (round 18): ONE eager priming pass materializes
    * the stage caches in dependency order — `spanned.count()` pulls
    * flagged → deduped → spanned through serially, so no two count
    * branches can race an unfilled cache (the x65 double-
    * materialization hazard that made round 15's unprimed one-job
    * spelling peak at 72 GB) — then all eight counts run as ONE lazy
    * union job over the warm caches, instead of eight sequential
    * eager 1-row checkpoint jobs. Output identical to [[funnel]]
    * (spec-pinned); at sf0.1 the sequential spelling paid ~8 scheduler
    * rounds of pure per-job floor. Gated by the caller on the measured
    * scratch rule (see Curation.funnelOneJobScratchMbPer1MDocs):
    * above the node budget the sequential spelling — proven at v2-5M
    * with bounded scratch — keeps running.
    */
  lazy val funnelFused: DataFrame = {
    spanned.count()
    assembleFunnel(stages.map { case (i, name, fr) =>
      stageCount(i, name, fr)
    })
  }

  private def stages: Seq[(Int, String, DataFrame)] = Seq(
    (1, "input", train.select(col(idCol).as("doc_id"))),
    (2, "quality_gate", flagged.filter(col("q_ok")).select("doc_id")),
    (3, "language_gate",
      flagged.filter(col("q_ok") && col("lang_ok")).select("doc_id")),
    (4, "repetition_gate", gated.select("doc_id")),
    (5, "decontaminated", decon.select("doc_id")),
    (6, "exact_dedup", deduped.select("doc_id")),
    (7, "span_dedup", spanned.select("doc_id")),
    (8, "temperature_mix", mixed.select("doc_id")))

  private def stageCount(i: Int, name: String, fr: DataFrame): DataFrame =
    fr.agg(count(lit(1)).as("n_docs"))
      .select(lit(i.toLong).as("stage_id"), lit(name).as("stage"),
        col("n_docs"))

  private def assembleFunnel(counts: Seq[DataFrame]): DataFrame =
    // drop-vs-previous over the 8-row funnel (unpartitioned window is
    // fine at this cardinality — it never sees corpus-sized input)
    counts.reduce(_ unionAll _).withColumn("n_dropped",
      coalesce(
        lag(col("n_docs"), 1).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("stage_id")))
          - col("n_docs"),
        lit(0L)))
}
