package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling — the class-rebalancing primitive of
  * a training-data pipeline (keep all rare-class rows, downsample the
  * dominant classes to a per-stratum rate).
  *
  * The keep/drop decision is a pure-arithmetic spread of the row key
  * (Knuth multiplicative hashing mod `buckets`), NOT `rand()` or an
  * engine hash function: the sample is identical across runs, engines
  * (oracle-replicable), partitionings, and cluster sizes — resampling a
  * 100 TB corpus yields byte-identical splits, which is what makes
  * training-data lineage reproducible. Map-only: no shuffle, pipelines
  * inside the scan stage, and at scale the stratum predicate can push
  * into partition pruning when data is partitioned by the stratum.
  */
object Sampling {

  /** Spread an integral key uniformly over [0, buckets) — TOTAL over
    * all Long keys, negatives included. The inner mod keeps the
    * multiply inside Long range under ANSI overflow checks; the final
    * mod is spelled as the portable pmod `((x % b) + b) % b` rather
    * than Spark's `pmod` built-in, so every engine whose `%` is
    * sign-preserving (Spark, DuckDB, Postgres, …) replays the exact
    * arithmetic from the interpolated constants and agrees on every
    * input: `x % b` lands in (-b, b), `+ b` shifts to (0, 2b), the
    * outer `% b` folds to [0, b). Rate predicates (`hashBucket < r`)
    * therefore downsample negative-keyed rows at the same rate as
    * positive ones — a sign-preserving `%` here would silently keep
    * ALL negative-keyed rows. This is the one spelling of the Knuth
    * spread: Sharding.spreadKey and the integer-IVF seed order
    * (Similarity) call it, and the oracles' SQL twin
    * (`catalog.Shared.hashBucketSql`) interpolates [[knuthModulus]] and
    * [[knuthMultiplier]].
    */
  def hashBucket(key: Column, buckets: Int = 100): Column = {
    val b = lit(buckets.toLong)
    (key % lit(knuthModulus) * lit(knuthMultiplier) % b + b) % b
  }

  /** The spread's inner modulus and multiplier: (key mod 1000000007)
    * times 2654435761 stays below 2^62, inside Long and DuckDB's BIGINT.
    */
  private[graft] val knuthModulus = 1000000007L
  private[graft] val knuthMultiplier = 2654435761L

  /** Deterministic train/val/test split assignment: every row gets a
    * stable `split` label from its key's hash bucket — bucket < trainPct
    * → train, < trainPct+valPct → val, else test. Because the bucket is
    * the pure Knuth spread of the key (no rand(), no engine hash), the
    * split is reproducible across runs, engines, partitionings and
    * cluster sizes — re-materializing a 100 TB corpus never moves a
    * document across the eval boundary, which is the property that
    * keeps longitudinal evals honest. Map-only, pipelines in the scan
    * stage; per-stratum proportions converge to the global rates since
    * the bucket is independent of any attribute.
    */
  def splitAssign(df: DataFrame, keyCol: String, trainPct: Int = 80,
                  valPct: Int = 10, buckets: Int = 100): DataFrame =
    df.withColumn("bucket", hashBucket(col(keyCol), buckets))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Keep each row of stratum `s` with probability `rates(s)/buckets`
    * (strata absent from the map use `defaultRate`). Rates are integer
    * bucket counts so the predicate stays exact integer arithmetic.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       rates: Map[String, Int], defaultRate: Int = 0,
                       buckets: Int = 100): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), buckets) < rate)
  }

  /** Rebalance a multi-domain corpus to a uniform source mixture: every
    * domain is deterministically downsampled to (approximately) the size
    * of the smallest domain — the "don't let the web crawl drown the
    * books" source-mixing step of a pretraining-data build, with the
    * target rates DERIVED from the data instead of hand-specified.
    *
    * Two passes: a column-pruned stats aggregate (domain → count, a few
    * rows) is broadcast back onto the corpus, then a map-only integer
    * keep predicate — keep iff hashBucket(key)·n_domain < n_target·
    * buckets, so the smallest domain keeps every row and a domain m×
    * larger keeps ~1/m of its rows. The corpus itself never shuffles,
    * and the kept set is engine- and partitioning-independent.
    */
  def rebalance(df: DataFrame, domainCol: String, keyCol: String,
                buckets: Int = 100): DataFrame =
    rebalanceBy(df, domainCol, keyCol, lit(1L), buckets)

  /** `rebalance` weighted by an arbitrary per-row mass (token counts in
    * a training mixture: a domain of few huge docs is as heavy as one
    * of many small docs). Keep-rate per domain = min domain mass /
    * domain mass; the keep decision stays per-ROW integer arithmetic on
    * the row key, so the expected KEPT MASS of every domain approaches
    * the smallest domain's and the sample remains engine- and
    * partitioning-independent.
    */
  def rebalanceBy(df: DataFrame, domainCol: String, keyCol: String,
                  weight: Column, buckets: Int = 100): DataFrame = {
    val masses = df.groupBy(domainCol).agg(sum(weight).as("m_domain"))
    val rates = masses.crossJoin(masses.agg(min("m_domain").as("m_target")))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(hashBucket(col(keyCol), buckets) * col("m_domain") <
        col("m_target") * buckets)
      // internal rate columns must not leak into the caller's schema
      .drop("m_domain", "m_target")
  }

  /** Temperature-scaled domain mixing — the multilingual/pretraining
    * "kept mass ∝ n_d^α" rule (XLM/mT5 exponent-sampling, α = 1−1/τ):
    * every domain keeps rate (n_min/n_d)^(1/τ), so τ interpolates from
    * [[rebalance]]'s uniform mixture (τ=1: every domain shrinks to
    * n_min) out to the natural distribution (τ→∞: keep everything).
    * τ=2 is the α=0.5 multilingual-sampling choice — kept mass grows
    * ∝ √n_d, upweighting the tail RELATIVE to the head without ever
    * upsampling rows. The smallest domain always keeps everything.
    *
    * The fractional power never touches a float: keep iff
    * `h^τ · n_d < n_min · B^τ` for h = hashBucket(key, B) — exactly
    * P(h < B·(n_min/n_d)^(1/τ)) up to the 1/B quantization, all in
    * Long arithmetic both engines replay (B=1000, τ=2 bounds every
    * product by 1e6·n_d — overflow-free while domains stay under
    * ~9.2e12 rows; τ is an INTEGER exponent spelled as repeated
    * multiplication, no pow(); the B^τ ≤ 1e9 require below ENFORCES
    * the headroom for every admitted (τ, B), not just the default).
    * Same two-pass shape as [[rebalanceBy]]:
    * broadcast domain counts, then a map-only integer predicate — the
    * corpus never shuffles.
    */
  def temperatureSample(df: DataFrame, domainCol: String, keyCol: String,
                        tau: Int = 2, buckets: Int = 1000): DataFrame = {
    require(tau >= 1, s"tau must be a positive integer, got $tau")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // enforce the overflow bound the predicate's Long arithmetic needs:
    // h^tau*n_domain (h < buckets) and n_min*buckets^tau must stay below
    // 2^63, and n_domain is data we can't see at plan time — so cap
    // buckets^tau at 1e9, which leaves ~9.2e9 rows of per-domain headroom
    // (comfortably above any single domain this engine targets; a
    // 100 TB corpus at 1 KB/doc is 1e11 docs ACROSS all domains). At the
    // default buckets=1000 this admits tau<=3; higher temperatures must
    // coarsen the bucket grid (e.g. buckets=100 admits tau<=4), trading
    // rate quantization for exponent range instead of silently
    // overflowing (ANSI mode would throw mid-job; non-ANSI would
    // silently wrap and corrupt the sample).
    // buckets^tau computed in LONG repeated multiplication with an
    // early bail once past the cap — not float math.pow, whose 1-ulp
    // slack could mis-admit or mis-reject exact boundary configs like
    // 1000^3 == 1e9 (ADVICE r10)
    val bPowCap = 1000000000L
    val bPowL: Long = {
      // p <= cap and buckets <= Int.MaxValue keeps every partial
      // product below 2^62 — the loop itself cannot overflow
      var p = 1L; var i = 0
      while (i < tau && p <= bPowCap) { p *= buckets; i += 1 }
      p
    }
    require(bPowL <= bPowCap,
      s"buckets^tau = $buckets^$tau exceeds 1e9: h^tau*n_domain would " +
        "overflow Long for domains beyond ~9.2e9 rows; lower tau or " +
        "buckets (tau<=3 at buckets=1000)")
    val counts = df.groupBy(domainCol).agg(count(lit(1)).as("n_domain"))
    // the OTHER overflow factor is data: n_domain must stay under
    // Long.MaxValue / buckets^tau (~9.2e9 rows at the 1e9 cap) or the
    // keep predicate would wrap in non-ANSI mode and corrupt the
    // sample. The counts frame is domain-sized, so the check is an
    // in-plan raise_error branch on it — load-bearing (it feeds the
    // predicate's n_domain), so column pruning cannot drop it
    val maxDomain = Long.MaxValue / bPowL
    val guarded = counts.withColumn("n_domain",
      when(col("n_domain") <= maxDomain, col("n_domain"))
        .otherwise(raise_error(concat(
          lit("temperatureSample: domain size "), col("n_domain"),
          lit(s" exceeds the Long-overflow headroom $maxDomain for " +
            s"buckets^tau = $bPowL; coarsen buckets or lower tau")))
          .cast("long")))
    val rates = guarded.crossJoin(guarded.agg(min("n_domain").as("n_min")))
    val h = hashBucket(col(keyCol), buckets)
    val hPow = Seq.fill(tau)(h).reduce(_ * _)
    df.join(broadcast(rates), Seq(domainCol))
      .filter(hPow * col("n_domain") < col("n_min") * lit(bPowL))
      .drop("n_domain", "n_min")
  }

  /** Per-domain cap — the "at most K documents per host/source" rule
    * web-corpus curation applies so no single domain dominates the
    * mixture (the FineWeb/Gopher-style counterpart of [[rebalance]]'s
    * proportional thinning): keep the K best rows of each domain under
    * a deterministic ranking (here: a caller-supplied integer score,
    * id-tiebroken, so re-runs and the SQL twin agree exactly). One
    * domain-keyed shuffle; `WindowGroupLimit` prunes rank > K before
    * the full sort materializes, so per-domain cost is bounded by K,
    * not domain size.
    */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
                score: Column, k: Int): DataFrame = {
    val ranked = df.select(col(idCol), col(domainCol), score.as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(domainCol)
          .orderBy(col("score").desc, col(idCol).asc)).cast("long"))
    ranked.filter(col("rnk") <= k)
  }

  /** TOKEN-BUDGET selection — the "fill an N-token training budget with
    * the best documents of each domain" rule (the mass-based
    * counterpart of [[domainCap]]'s count cap, and the greedy form of
    * the mixture weights [[rebalanceBy]] applies as rates): rank each
    * domain's docs by a caller-supplied integer quality score
    * (id-tiebroken — deterministic, SQL-replayable), walk the ranking
    * accumulating token mass, and keep docs while the running total
    * stays inside the budget. A doc that would overflow the budget is
    * dropped along with everything ranked below it that still fits —
    * the contract is a PREFIX of the quality ranking (the reproducible
    * spelling), not a best-fit knapsack.
    *
    * Output: one row per input doc (idCol, domainCol, n_tokens, q,
    * cum_tokens, kept) — the per-doc frame downstream mixing joins on.
    *
    * Scale shape: one corpus pass computes (tokens, score) map-side,
    * then ONE domain-keyed exchange feeds the per-domain ordered
    * cumulative sum. A prefix-sum cannot WindowGroupLimit-prune (every
    * row's keep bit depends on the mass above it), so a mega-domain
    * sorts in one reducer — the mitigation at 100 TB is the same
    * two-stage trade the paragraph operators make: pre-cap the domain
    * with [[domainCap]] at a generous K ≈ budget/min_doc_tokens first
    * (rank-prunable), then run the exact prefix walk on the survivors.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, textCol: String,
                        domainCol: String, budget: Long): DataFrame = {
    val t = graft.text.TextAnalysis.tokens(col(textCol))
    // integer quality: distinct-token count (lexical diversity) — any
    // deterministic integer score slots in; this one needs no second
    // corpus pass and its SQL twin is one list_distinct
    val base = df.select(col(idCol), col(domainCol),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("q"))
    val w = Window.partitionBy(domainCol)
      .orderBy(col("q").desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= budget)
  }
}
