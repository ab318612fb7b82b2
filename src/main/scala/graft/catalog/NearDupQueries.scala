package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.text.TextAnalysis
import graft.neardup.{NearDup, ParaDedup, SpanDedup}

/** The near-duplicate family: exact dedup, word/char Jaccard,
  * MinHash-LSH and SimHash (portable and production hashes), their
  * recall and drift gates, the dup-cluster assignments, and the
  * sub-document paragraph / n-gram / span dedup. The MinHash/Jaccard
  * shape knobs and the portable-hash oracle CTEs sit beside the entries
  * that read them.
  */
private[graft] object NearDupQueries {
  import Shared._

  /** Documents re-lined with deterministic paragraph structure — tokens
    * chunked [[paraChunkTokens]] at a time, joined by '\n'. The fixture
    * corpus is single-line, so the sub-document operators (x60/x62)
    * derive their paragraphs from it; exact-dup and shared-prefix
    * near-dup docs then yield genuine cross-doc duplicate paragraphs.
    */
  private def structuredDocs(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs(s, d).select(col("doc_id"),
      when(size(toks) < 1, lit(""))
        .otherwise(concat_ws("\n",
          transform(
            sequence(lit(0),
              floor((size(toks) - 1) / lit(paraChunkTokens.toDouble))
                .cast("int")),
            i => concat_ws(" ",
              slice(toks, i * paraChunkTokens + 1, lit(paraChunkTokens))))))
        .as("text"))
  }

  /** ONE definition site for the MinHash/Jaccard demo-catalog shape
    * constants (shingle width, hash/band counts, caps, thresholds): the
    * Scala catalog entries (x02/x03/x22/x28) and the oracle CTE
    * generators below both read these, so a config change cannot desync
    * the two sides — previously the CTE string duplicated them as
    * hand-written literals and a drift would have surfaced as a
    * confusing hash mismatch rather than a compile-visible constant.
    */
  private val wordShingleK     = 3   // tokens per word shingle (x02/x03/x22/x28)

  // df-cap for the exact-Jaccard pair joins (x02/x22). 200 was tuned on
  // the v1 cipher fixtures; the round-14 df-mass probe on realistic
  // Zipfian text (v2-500k) measured Σ C(df,2) = 98.0M candidate pairs
  // at 200 vs 32.8M at 32, while the near-dup SIGNAL lives at the
  // bottom of the df range (one-token-substituted twins share df=2
  // shingles; exact-dup families top out at multiplicity ~8 « 32), so
  // 32 keeps every true pair reachable and cuts the pair join 3×. The
  // resulting "Jaccard over discriminative shingles" is the sharper
  // metric — both engines share this constant, so retunes stay green.
  private val wordShingleDfCap = 32

  // df-cap for the char-5-gram Jaccard (x31). Its own constant: char
  // grams on a 30k-word vocabulary are pathologically hot (v2-500k:
  // 95k of 109k distinct grams exceed df 100; Σ C(df,2) = 34.6M at the
  // old 100 vs 0.13M at 32) — discriminative capacity lives entirely
  // in rare-word grams, which every Zipf-drawn doc has ~24 of, so twin
  // pairs keep sharing capped grams and their filtered-set Jaccard
  // stays high while coincidental mid-df candidates vanish.
  private val charGramDfCap    = 32

  private val mhNumHashes      = 16  // MinHash slots (x03/x28)
  private val mhBands          = 4   // LSH bands (x03/x28)
  private val mhBucketCap      = 200 // hot band-bucket cap (x03/x28)
  private val mhThreshold      = 0.2 // Jaccard verification threshold
  private val paraChunkTokens = 12 // x60/x62 derived-paragraph width (tokens)
  private val paraBoilerMaxDf = 1  // x62 max distinct docs before a paragraph is boilerplate

  /** DF-CAPPED word-shingle inverted index as DuckDB CTEs (`toks sh0
    * hotw sh`): `sh` is the filtered index. Downstream sizes/pair joins
    * must read `sh`, matching the Spark side which computes set sizes on
    * the SAME filtered index (NearDup.jaccardPairsOver) so the Jaccard
    * ratio stays internally consistent. Shared by the x02 pair oracle
    * and the x22 connected-components oracle.
    */
  private val cappedWordShingleCtes: String =
    s"""${wordShingleCtes("sh0", wordShingleK)},
      |hotw AS (
      |  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > $wordShingleDfCap),
      |sh AS (
      |  SELECT doc_id, shingle FROM sh0
      |  WHERE NOT EXISTS (SELECT 1 FROM hotw WHERE hotw.shingle = sh0.shingle))""".stripMargin

  /** DuckDB twin of the PORTABLE MinHash+LSH pair generation
    * (`NearDup.minhashLshPairs(..., portable = true)`): the 60-bit
    * md5-nibble base rebuilt with strpos arithmetic, the same
    * splitmix64-derived affine coefficients interpolated as literals
    * (computed by `NearDup.portableCoef`, never hand-written), the same
    * 31/97 polynomial band keys, hot-bucket cap, and exact
    * shingle-Jaccard verification at the operating threshold. Every
    * shape constant (hash count, bands, cap, threshold, shingle width)
    * interpolates from the SAME named constants the catalog entries
    * pass to NearDup — x03/x28 and their oracles cannot de-sync. Shared
    * by the x03 pair oracle and the x28 connected-components oracle —
    * one truth definition. Produces CTEs `toks sh hb mh bands hot b2
    * cand sizes inter p`; `p` is (doc_a, doc_b, jaccard).
    */
  private val minhashPortablePairCtes: String = {
    val coefs = (0 until mhNumHashes).map(i =>
      s"($i, ${graft.neardup.NearDup.portableCoef(i, 0)}, ${graft.neardup.NearDup.portableCoef(i, 1)})")
      .mkString(", ")
    // band key = two base-31 / base-97 polynomials over the band's rows
    // (NearDup's portable band hash); arms generated from rowsPerBand so
    // a hash/band reconfiguration regenerates the polynomial degrees
    val rowsPerBand = mhNumHashes / mhBands
    def bandPoly(base: Long): String = {
      val arms = (0 until rowsPerBand - 1)
        .map(j => s"WHEN $j THEN ${Iterator.fill(rowsPerBand - 1 - j)(base).product}")
        .mkString(" ")
      s"CASE seed % $rowsPerBand $arms ELSE 1 END"
    }
    s"""seeds(seed, a, b) AS (VALUES $coefs),
      |${wordShingleCtes("sh", wordShingleK)},
      |hx AS (SELECT doc_id, substr(md5(shingle), 1, 15) AS hx FROM sh),
      |hb AS (
      |  SELECT doc_id,
      |         list_sum(list_transform(range(1, 16), j ->
      |           (strpos('0123456789abcdef', substr(hx, CAST(j AS INT), 1)) - 1)::BIGINT
      |             << CAST((15 - j) * 4 AS INT)))::BIGINT % 2147483647 AS hb
      |  FROM hx),
      |mh AS (
      |  SELECT doc_id, s.seed AS seed, min((s.a * hb + s.b) % 2147483647) AS mh
      |  FROM hb, seeds s
      |  GROUP BY doc_id, s.seed),
      |bands AS (
      |  SELECT doc_id, seed // $rowsPerBand AS band_id,
      |         (sum(mh * ${bandPoly(31L)}) % 2147483647)
      |           * 2147483647
      |         + (sum(mh * ${bandPoly(97L)}) % 2147483647) AS band_hash
      |  FROM mh GROUP BY doc_id, seed // $rowsPerBand),
      |hot AS (
      |  SELECT band_id, band_hash FROM bands
      |  GROUP BY band_id, band_hash HAVING count(*) > $mhBucketCap),
      |b2 AS (
      |  SELECT doc_id, band_id, band_hash FROM bands
      |  WHERE NOT EXISTS (SELECT 1 FROM hot
      |                    WHERE hot.band_id = bands.band_id
      |                      AND hot.band_hash = bands.band_hash)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM b2 a JOIN b2 b ON a.band_id = b.band_id
      |                     AND a.band_hash = b.band_hash
      |                     AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT i.doc_a, i.doc_b,
      |         round(i.n_common::DOUBLE / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard
      |  FROM inter i
      |  JOIN sizes sa ON sa.doc_id = i.doc_a
      |  JOIN sizes sb ON sb.doc_id = i.doc_b
      |  WHERE round(i.n_common::DOUBLE / (sa.n_sh + sb.n_sh - i.n_common), 4) >= $mhThreshold)""".stripMargin
  }

  /** DuckDB twin of the PORTABLE SimHash banded index
    * (`NearDup.simhashPairs(..., portable = true)`): 60-bit md5-nibble
    * signatures, 15-bit chunk banding, 200-doc hot cap. CTE names carry
    * an `sx_` prefix so the chain composes with
    * [[minhashPortablePairCtes]] in one WITH block (x58); `sx_c2` is
    * the capped (doc_id, simhash, chunk_id, chunk_val) index. Shared by
    * the x04 pair oracle and the x58 drift gate — one truth definition.
    */
  private val simhashPortableCtes: String =
    s"""${tokensCte("sx_toks")},
      |sx_tok AS (SELECT doc_id, u.tok AS tok FROM sx_toks, UNNEST(t) AS u(tok)),
      |sx_h AS (SELECT doc_id, substr(md5(tok), 1, 15) AS hx FROM sx_tok),
      |sx_bits AS (
      |  SELECT doc_id, u.b AS b,
      |         CASE WHEN ((strpos('0123456789abcdef',
      |                            substr(hx, CAST(15 - u.b // 4 AS INT), 1)) - 1)
      |                    >> (u.b % 4)) & 1 = 1 THEN 1 ELSE -1 END AS s
      |  FROM sx_h, UNNEST(range(60)) AS u(b)),
      |sx_sums AS (SELECT doc_id, b, sum(s) AS t FROM sx_bits GROUP BY doc_id, b),
      |sx_sig AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN t > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
      |  FROM sx_sums GROUP BY doc_id),
      |sx_ch AS (
      |  SELECT doc_id, simhash, u.c AS chunk_id,
      |         (simhash >> CAST(u.c * 15 AS INT)) & 32767 AS chunk_val
      |  FROM sx_sig, UNNEST(range(4)) AS u(c)),
      |sx_hot AS (
      |  SELECT chunk_id, chunk_val FROM sx_ch
      |  GROUP BY chunk_id, chunk_val HAVING count(*) > 200),
      |sx_c2 AS (
      |  SELECT doc_id, simhash, chunk_id, chunk_val FROM sx_ch
      |  WHERE NOT EXISTS (SELECT 1 FROM sx_hot
      |                    WHERE sx_hot.chunk_id = sx_ch.chunk_id
      |                      AND sx_hot.chunk_val = sx_ch.chunk_val))""".stripMargin

  /** Adaptive probe-bucket count for the PAIR-recall gates (x33/x34).
    *
    * A fixed-count DOC sample can go VACUOUS on pairs: sampling ~200 of
    * N docs keeps a pair only when its smaller id is sampled, and as N
    * grows the sampled truth set can hit zero (measured: 14 pairs at
    * sf0.1, 0 at the synthetic 10× corpus — a TRUE gate that checks
    * nothing). So start from the power-of-2 bucket count that samples
    * ~`targetDocs` docs and QUARTER it (4× the probe sample per step)
    * until the sampled exact truth set has ≥ `gateMinPairs` pairs or the
    * sample is the whole corpus. Each iteration's join cost is
    * proportional to the probe side, so the total is < 1.4× the landed
    * sample's cost — still independent of corpus size whenever per-doc
    * pair density is (the linear growth model), and NEVER a vacuous
    * gate.
    *
    * Determinism/oracle contract: every chain element divides its
    * predecessor, which NESTS the samples (x mod 4k = 0 ⇒ x mod k = 0),
    * so the sampled pair count is non-increasing in k along the chain
    * and the landed k is exactly "the largest k in the chain with
    * ≥ gateMinPairs pairs, else 1" — a spelling the DuckDB twin
    * reproduces in one pass from the full pair set (cheap at oracle
    * scale).
    */
  private val gateMinPairs = 10L

  private def adaptiveProbeExact(nDocs: Long, targetDocs: Long)
                                (exactAt: Int => DataFrame): (DataFrame, Int) = {
    var k = Integer.highestOneBit(math.max(1L, nDocs / targetDocs).toInt)
    // quartering (not halving) keeps the iteration count ~log₄ while the
    // geometric cost sum stays < 1.4× the landed sample's join; the
    // landed frame is CACHED so the gate's two consumers (n_pairs, hits)
    // and the loop's own count() share one restricted-join run
    var ex = exactAt(k).cache()
    while (k > 1 && ex.count() < gateMinPairs) {
      ex.unpersist()
      k = math.max(1, k / 4)
      ex = exactAt(k).cache()
    }
    // the landed k rides along so callers can build the candidate-side
    // probe from the SAME sample (previously smuggled out through a
    // mutated capture — the round-5 style nit)
    (ex, k)
  }

  /** DuckDB truth set shared by the x33 (MinHash) and x34 (SimHash)
    * recall gates: exact word-3-shingle pair count at jaccard ≥ 0.5,
    * mirroring `NearDup.shingles(k=3)` + `jaccardPairsOver(0.5)`, then
    * the [[adaptiveProbeExact]] landing rule recomputed from the FULL
    * pair set (cheap at oracle scale): the landed k is the largest
    * quartering-chain bucket count with ≥ 10 sampled pairs, else 1 —
    * identical to the Spark side's descending loop because each chain
    * element divides its predecessor, nesting the samples. The recall
    * boolean itself is the in-plan invariant (literal TRUE here).
    */
  private val exactPairsGateSql: String =
    s"""WITH ${wordShingleCtes("sh", 3)},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5),
       |b0 AS (
       |  SELECT CAST(2 ** floor(log2(greatest(count(*) // 200, 1))) AS BIGINT) AS b
       |  FROM documents),
       |ks AS (
       |  SELECT DISTINCT CAST(greatest(b // (4 ** g), 1) AS BIGINT) AS k
       |  FROM b0, generate_series(0, 15) AS t(g)),
       |nk AS (
       |  SELECT k, (SELECT count(*) FROM pairs
       |             WHERE (((doc_a % 1000000007) * 2654435761) % k
       |                    + k) % k = 0) AS n
       |  FROM ks),
       |chosen AS (
       |  SELECT coalesce(max(k) FILTER (WHERE n >= 10), 1) AS k FROM nk)
       |SELECT nk.n AS n_pairs, TRUE AS recall_ok
       |FROM nk JOIN chosen ON nk.k = chosen.k""".stripMargin

  val entries: Seq[Entry] = Seq(
    // ---- north-star extensions: dedup (exact + near) ----
    Entry("x01_dedup_exact", (s, d) =>
      Dedup.exactTextDedup(docs(s, d), "doc_id", "text"), Sql(
      """SELECT md5(lower(trim(text))) AS text_hash,
        |       min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),
    // jaccardPairs pins its shingles and the df-capped index (NearDup's
    // pinning rule): each feeds two steps, and pinning trades one small
    // persisted frame for a re-run of the explode+distinct per reader.
    // maxDocFreq = wordShingleDfCap: word shingles shared by more docs
    // are dropped BEFORE the pair join (same Σ C(df,2) bound x31
    // applies to char grams — the uncapped char variant measured 874s
    // vs ~2s at sf0.1). At real corpus growth the cap is the difference
    // between a linear inverted-index join and a quadratic hot-key
    // blowup; the oracle CTE mirrors it so jaccard stays cross-engine-
    // exact. Cap value derivation: see the constant's comment (round-14
    // v2-500k df-mass probe).
    // Oracle:
    // df-capped (wordShingleDfCap) exactly like the Spark side: sizes
    // and the pair join both read the FILTERED index `sh`, so the
    // Jaccard ratio matches NearDup.jaccardPairsOver's capped spelling
    Entry("x02_jaccard_pairs", (s, d) =>
      NearDup.jaccardPairs(docs(s, d), "doc_id", "text", k = wordShingleK,
        threshold = mhThreshold, maxDocFreq = Some(wordShingleDfCap)), Sql(
      s"""WITH $cappedWordShingleCtes,
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common,
        |       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= $mhThreshold""".stripMargin)),
    // hot band buckets capped at 200 docs: on this low-entropy corpus the
    // cap drops NO pairs at sf0.01/sf0.1 (sweep-verified) but bounds the
    // C(n,2) pair expansion that would otherwise dominate at 100 TB.
    // portable = true: md5-base affine slot hashes + polynomial band
    // keys (NearDup.portableBase/portableCoef) let the DuckDB oracle
    // rebuild the SAME band buckets, so the LSH candidate SET is
    // hash-checked (round 5 — was rows-only under engine murmur); the
    // murmur production default stays gated by x33.
    // Oracle:
    // portable MinHash+LSH: DuckDB rebuilds the SAME md5-base affine
    // slot hashes and polynomial band keys (minhashPortablePairCtes), so
    // the banded candidate set — not just the Jaccard verification — is
    // cross-engine-checked
    Entry("x03_minhash_lsh", (s, d) =>
      NearDup.minhashLshPairs(docs(s, d), "doc_id", "text",
        k = wordShingleK, numHashes = mhNumHashes, bands = mhBands,
        threshold = mhThreshold, maxBucketSize = Some(mhBucketCap),
        portable = true), Sql(
      s"""WITH $minhashPortablePairCtes
        |SELECT doc_a, doc_b, jaccard FROM p""".stripMargin)),
    // portable = true: 60-bit md5-nibble signatures (NearDup.simhash) —
    // the oracle recomputes every signature bit-for-bit, so buckets,
    // hamming distances, and the pair set are all cross-engine-checked
    // (was rows-only under xxhash64, which only x34's gate covered)
    // Oracle:
    // portable SimHash: 60-bit md5-nibble signatures recomputed bit-for-
    // bit (strpos-decoded nibbles), then the same 15-bit chunk banding,
    // 200-doc hot cap, and Hamming <= 8 verification as the Spark side
    Entry("x04_simhash_pairs", (s, d) =>
      NearDup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 8,
        maxBucketSize = Some(200), portable = true), Sql(
      s"""WITH $simhashPortableCtes
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sx_c2 a JOIN sx_c2 b ON a.chunk_id = b.chunk_id
        |                         AND a.chunk_val = b.chunk_val
        |                         AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin)),
    // PRODUCTION-hash twins of x03/x04: the engine-hash defaults
    // (murmur3 minhash permutations / xxhash64 simhash bits,
    // portable = false) are the path a real 100 TB dedup runs — cheaper
    // than the md5-based portable spelling, but JVM-internal, so no
    // DuckDB twin can rebuild their buckets (rows-only; recall stays
    // gated by x33/x34, which exercise exactly these defaults). Catalog
    // entries so the murmur path's COST is tracked per-query per round —
    // round 5 benched only the portable demo path, leaving a
    // murmur-path perf regression invisible.
    Entry("x03p_minhash_lsh_prod", (s, d) =>
      NearDup.minhashLshPairs(docs(s, d), "doc_id", "text",
        k = wordShingleK, numHashes = mhNumHashes, bands = mhBands,
        threshold = mhThreshold, maxBucketSize = Some(mhBucketCap)), RowsOnly),
    Entry("x04p_simhash_prod", (s, d) =>
      NearDup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 8,
        maxBucketSize = Some(200)), RowsOnly),
    // cross-twin drift gate for the production-hash paths: candidate-
    // pair counts of the murmur3/xxhash64 bucket structures (the x03p/
    // x04p defaults) must stay within a small factor of their portable
    // md5 siblings on the same corpus. x33/x34 gate RECALL — a murmur-
    // side bucket-skew blowup inflates candidate COUNT (hence cost)
    // without touching recall, and until this gate it surfaced only in
    // bench. Both counts are one-row aggregates; the band tolerance
    // (4× + 50) is wide enough for two independent hash families over
    // the same cap/shape, tight enough that an order-of-magnitude skew
    // fails the hash compare. Portable counts are themselves oracle-
    // recomputed; prod counts can't be (engine hashes) and so appear
    // only inside the boolean band checks.
    // Oracle:
    // production-vs-portable bucket-structure drift gate: the portable
    // candidate counts are cross-engine-checked (the oracle rebuilds
    // both banded structures), and the in-plan band predicates pin the
    // engine-hash twins (x03p/x04p murmur3/xxhash64 buckets) to within
    // a small factor of them — a murmur-side bucket-skew blowup, which
    // x33/x34's RECALL gates cannot see, fails the hash compare here
    Entry("x58_prod_twin_drift", (s, d) => {
      val dd = docs(s, d)
      // ONE tokenize pass feeds all four candidate aggregations (round
      // 18): the shingle index (both minhash families) and the simhash
      // explode read the same cached (id, toks) frame, and the two
      // simhash families' signatures come out of ONE fused explode+
      // aggregate — r17 ran three full tokenizer passes and two
      // separate simhash aggregations by construction. At 100 TB the
      // toks cache is corpus-sized (disk-backed), the right trade for
      // a gate that runs four full-corpus aggregations over it. Each
      // count's capped banding pins its own band index (docs × bands
      // rows; NearDup's pinning rule).
      val toks = dd.select(col("doc_id").as("id"),
        graft.text.TextAnalysis.tokens(col("text")).as("toks")).cache()
      val sh = NearDup.shinglesFromToks(toks, k = wordShingleK)
        .cache() // feeds both minhash sides (prod + portable signatures)
      val sims = NearDup.simhashBothFromToks(toks)
        .cache() // both simhash families from one aggregate, two readers
      def mhN(portable: Boolean, as: String) =
        NearDup.minhashCandidatesOver(sh, mhNumHashes, mhBands,
          maxBucketSize = Some(mhBucketCap), portable = portable)
          .agg(count(lit(1)).as(as))
      def sxN(portable: Boolean, as: String) =
        NearDup.simhashCandidatesFromSig(
          sims.select(col("id"),
            (if (portable) col("sim_port") else col("sim_prod"))
              .as("simhash")),
          maxBucketSize = Some(200), portable = portable)
          .agg(count(lit(1)).as(as))
      def inBand(prod: Column, port: Column): Column =
        prod <= port * 4 + 50 && port <= prod * 4 + 50
      mhN(portable = true, "n_minhash_port")
        .crossJoin(mhN(portable = false, "__n_minhash_prod"))
        .crossJoin(sxN(portable = true, "n_simhash_port"))
        .crossJoin(sxN(portable = false, "__n_simhash_prod"))
        .select(col("n_minhash_port"), col("n_simhash_port"),
          inBand(col("__n_minhash_prod"), col("n_minhash_port"))
            .as("minhash_band_ok"),
          inBand(col("__n_simhash_prod"), col("n_simhash_port"))
            .as("simhash_band_ok"))
    }, Sql(
      s"""WITH $minhashPortablePairCtes,
        |$simhashPortableCtes
        |SELECT (SELECT count(*) FROM cand) AS n_minhash_port,
        |       (SELECT count(*) FROM (
        |          SELECT DISTINCT a.doc_id, b.doc_id
        |          FROM sx_c2 a JOIN sx_c2 b ON a.chunk_id = b.chunk_id
        |                                   AND a.chunk_val = b.chunk_val
        |                                   AND a.doc_id < b.doc_id)) AS n_simhash_port,
        |       TRUE AS minhash_band_ok, TRUE AS simhash_band_ok""".stripMargin)),
    // character-5-gram Jaccard pairs: the tokenization-robust dedup
    // variant (word shingles miss dups with whitespace/punctuation
    // damage; char grams don't). The df-cap is NOT optional here: common
    // substrings appear in nearly every doc and the uncapped pair join is
    // Σ C(df,2) — measured 874s vs ~2s at sf0.1
    Entry("x31_char_jaccard", (s, d) =>
      // the char grams are the caller's frame to jaccardPairsOver, so
      // they are pinned here: the df cap's aggregate and anti join both
      // read them (jaccardPairsOver pins the capped index itself)
      NearDup.jaccardPairsOver(
        NearDup.charShingles(docs(s, d), "doc_id", "text", n = 5).cache(),
        threshold = 0.3, maxDocFreq = Some(charGramDfCap)), Sql(
      s"""WITH d AS (
        |  SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(CASE WHEN length(t) >= 5
        |    THEN list_distinct(list_transform(range(1, length(t) - 3),
        |                                      i -> t[i:i+4]))
        |    ELSE [] END) AS shingle
        |  FROM d),
        |hot AS (
        |  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > $charGramDfCap),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.shingle = sh0.shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common,
        |       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.3""".stripMargin)),
    // recall gate for the capped MinHash-LSH path (x03, and x28
    // transitively — identical candidate generation): the banded pairs
    // must cover ≥70% of the exact-Jaccard pairs at threshold+margin
    // (0.5 vs the 0.2 operating threshold; banding theory at 16/4 gives
    // ~88% per-pair hit at j=0.8, and every fixture dup pair sits above
    // that). One shared shingle frame feeds both sides; n_pairs is
    // cross-engine-checked, recall_ok has a literal-TRUE oracle — a
    // banding regression fails the hash gate instead of hiding rows-only
    // Oracle:
    // ONE truth-set definition for both banded-path recall gates: the
    // count of exact word-3-shingle pairs at jaccard ≥ 0.5 (gate
    // threshold+margin). Shared constant, not pasted twice — a change to
    // the shingle model or the rounding idiom cannot de-sync the gates.
    Entry("x33_minhash_recall", (s, d) => {
      // ADAPTIVE probe-side sample: start at ~200 docs and widen until
      // the exact truth set holds ≥ gateMinPairs pairs (see
      // adaptiveProbeBuckets — a fixed doc sample measured 0 pairs at
      // the 10× corpus, a vacuous gate). Both the exact-truth join and
      // the banded candidate join only expand pairs whose smaller id is
      // sampled, so the gate cost tracks the landed sample, not total
      // pair density. Recall over a deterministic pair sample is exact
      // on that sample, not an estimate of something else.
      // (NearDup's internal frames spell the key `id`.)
      val sh = NearDup.shingles(docs(s, d), "doc_id", "text", k = 3).cache()
      val (exact, landedK) =
        adaptiveProbeExact(docs(s, d).count(), targetDocs = 200)(kk =>
          NearDup.jaccardPairsOver(sh, threshold = 0.5,
              probePred = Some(Sampling.hashBucket(col("id"), kk) === 0))
            .select("doc_a", "doc_b"))
      val probe = Some(Sampling.hashBucket(col("id"), landedK) === 0)
      val lsh = NearDup.minhashLshPairsOver(sh, numHashes = 16, bands = 4,
          threshold = 0.2, maxBucketSize = Some(200), probePred = probe)
        .select("doc_a", "doc_b")
      recallGate(exact, lsh, Seq("doc_a", "doc_b"), 0.7)
    }, Sql(exactPairsGateSql)),
    // same gate for the SimHash path (x04): 16-bit chunk banding
    // guarantees hamming ≤ 3 is always caught; near-identical dup pairs
    // land well inside that, so coverage of the j ≥ 0.5 exact pairs must
    // stay ≥ 50%
    Entry("x34_simhash_recall", (s, d) => {
      // same adaptive probe-side sample as x33 (shared truth-set rule,
      // landed independently — both engines' spellings must agree, and
      // they do because the rule is deterministic in the pair set).
      // ONE tokenize pass (round 18): the exact-truth shingle index and
      // the simhash explode both read the cached (id, toks) frame —
      // r17 tokenized the corpus once per family by construction.
      val toks = docs(s, d).select(col("doc_id").as("id"),
        graft.text.TextAnalysis.tokens(col("text")).as("toks")).cache()
      val sh = NearDup.shinglesFromToks(toks, k = 3).cache()
      val (exact, landedK) =
        adaptiveProbeExact(docs(s, d).count(), targetDocs = 200)(kk =>
          NearDup.jaccardPairsOver(sh, threshold = 0.5,
              probePred = Some(Sampling.hashBucket(col("id"), kk) === 0))
            .select("doc_a", "doc_b"))
      val probe = Some(Sampling.hashBucket(col("id"), landedK) === 0)
      val sim = NearDup.simhashPairsFromToks(toks,
          maxHamming = 8, maxBucketSize = Some(200), probePred = probe)
        .select("doc_a", "doc_b")
      recallGate(exact, sim, Seq("doc_a", "doc_b"), 0.5)
    }, Sql(exactPairsGateSql)),
    // dup-cluster assignment (connected components of the exact-Jaccard
    // pair graph): the keeper-per-cluster step after pair generation;
    // oracle = recursive-CTE transitive closure over the same pairs.
    // Same wordShingleDfCap as x02 (its pair source) — the CC step is
    // scale-safe on its own, but an uncapped pair source re-opens the
    // hot-shingle quadratic it consumes.
    // Oracle:
    // pair source df-capped like x02 (shared cappedWordShingleCtes —
    // the x22 pair truth and the x02 pair oracle cannot de-sync)
    Entry("x22_dup_clusters", (s, d) =>
      NearDup.dupClusters(
        NearDup.jaccardPairs(docs(s, d), "doc_id", "text", k = wordShingleK,
          threshold = mhThreshold, maxDocFreq = Some(wordShingleDfCap))), Sql(
      s"""WITH RECURSIVE $cappedWordShingleCtes,
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= $mhThreshold),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT src AS id, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM r GROUP BY id""".stripMargin)),
    // the same cluster assignment over the SCALE pair path (capped
    // MinHash-LSH candidates instead of the exact all-shared-shingle
    // join) — the composition a 100 TB dedup actually runs. portable
    // hashing (as in x03) makes the candidate pairs — and therefore the
    // whole cluster assignment — oracle-checked via the recursive-CTE CC
    // twin (round 5 — was rows-only)
    // Oracle:
    // CC over the PORTABLE LSH candidate pairs: the same md5-prefix pair
    // truth as x03 (one shared CTE constant — the two cannot de-sync),
    // closed by the x22 recursive-CTE component oracle
    Entry("x28_dup_clusters_lsh", (s, d) =>
      NearDup.dupClusters(
        NearDup.minhashLshPairs(docs(s, d), "doc_id", "text",
          k = wordShingleK, numHashes = mhNumHashes, bands = mhBands,
          threshold = mhThreshold, maxBucketSize = Some(mhBucketCap),
          portable = true)), Sql(
      s"""WITH RECURSIVE $minhashPortablePairCtes,
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT src AS id, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM r GROUP BY id""".stripMargin)),

    // ---- sub-document dedup: paragraphs, duplicated n-grams, spans ----
    // paragraph-level keep-first dedup (CCNet-style boilerplate
    // removal). The fixture corpus is single-line, so the entry first
    // derives deterministic paragraph structure — tokens chunked
    // [paraChunkTokens] at a time, joined by '\n' — then runs the real
    // split→winner-agg→rebuild operator on it; exact-dup and shared-
    // prefix near-dup docs yield genuine cross-doc duplicate paragraphs
    // Oracle:
    // paragraph dedup replay: the same token-chunk paragraph derivation
    // (chunk width interpolated from paraChunkTokens — DuckDB slices are
    // inclusive, range() is exclusive), keep-first by (doc_id, pos) via
    // a window (equivalent to the engine's min-struct winners: (doc_id,
    // pos) is unique), ordered string_agg rebuild, LEFT JOIN totality
    Entry("x60_paragraph_dedup", (s, d) =>
      ParaDedup.dedupParagraphs(structuredDocs(s, d), "doc_id", "text"), Sql(
      s"""WITH ${tokensCte()},
        |paras AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(t[i*$paraChunkTokens+1 : i*$paraChunkTokens+$paraChunkTokens], ' ') AS para
        |  FROM toks, UNNEST(range(0, (len(t)+${paraChunkTokens - 1})//$paraChunkTokens)) AS u(i)),
        |ne AS (
        |  SELECT doc_id, pos, para, substr(md5(para), 1, 15) AS pkey
        |  FROM paras WHERE trim(para) <> ''),
        |fl AS (
        |  SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY pkey ORDER BY doc_id, pos) = 1 AS kept
        |  FROM ne),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_para,
        |         count(*) FILTER (WHERE kept) AS n_kept,
        |         string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE kept) AS text_dedup
        |  FROM fl GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_para, 0) AS n_para,
        |       coalesce(n_kept, 0) AS n_kept,
        |       coalesce(text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin)),
    // cross-document boilerplate removal (the C4/RefinedWeb rule, the
    // complement of x60's keep-first policy): a paragraph occurring in
    // > [paraBoilerMaxDf] distinct docs is dropped from ALL of them —
    // first copy included — while rare paragraphs survive everywhere.
    // Same derived-paragraph structure as x60, so the two sub-document
    // policies are directly comparable on the same corpus
    // Oracle:
    // boilerplate-removal replay: x60's paragraph derivation, then a
    // per-paragraph distinct-doc frequency join — kept = df within the
    // interpolated threshold, ALL occurrences of an over-threshold
    // paragraph dropped (no keep-first exception)
    Entry("x62_boilerplate_rm", (s, d) =>
      ParaDedup.removeBoilerplate(structuredDocs(s, d), "doc_id", "text",
        maxDocFreq = paraBoilerMaxDf), Sql(
      s"""WITH ${tokensCte()},
        |paras AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(t[i*$paraChunkTokens+1 : i*$paraChunkTokens+$paraChunkTokens], ' ') AS para
        |  FROM toks, UNNEST(range(0, (len(t)+${paraChunkTokens - 1})//$paraChunkTokens)) AS u(i)),
        |ne AS (
        |  SELECT doc_id, pos, para, substr(md5(para), 1, 15) AS pkey
        |  FROM paras WHERE trim(para) <> ''),
        |fr AS (
        |  SELECT pkey, count(DISTINCT doc_id) AS df FROM ne GROUP BY pkey),
        |fl AS (
        |  SELECT doc_id, pos, para, df <= $paraBoilerMaxDf AS kept
        |  FROM ne JOIN fr USING (pkey)),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_para,
        |         count(*) FILTER (WHERE kept) AS n_kept,
        |         string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE kept) AS text_clean
        |  FROM fl GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_para, 0) AS n_para,
        |       coalesce(n_kept, 0) AS n_kept,
        |       coalesce(text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin)),
    // duplicated-n-gram profile (the exact-substring-dedup cut signal,
    // Lee et al. 2022): per doc, distinct word 8-grams shared verbatim
    // with ANY other doc + the fraction — same gram width as x36's
    // decontamination so the two signals compose
    // Oracle:
    // duplicated-gram replay: x36's shingle dialect at width dupGramK,
    // keyed on the 15-nibble md5 prefix — the oracle groups by the HEX
    // prefix itself where Spark groups by its decoded 60-bit long
    // (NearDup.portableBase); the decode is a bijection on 15-nibble
    // strings, so the equivalence classes (and thus every count) are
    // identical, collisions included. Gram doc-frequency join, FILTER
    // rollup, LEFT JOIN totality
    Entry("x61_dupgram_profile", (s, d) =>
      NearDup.dupGramProfile(docs(s, d), "doc_id", "text", k = dupGramK), Sql(
      s"""WITH ${tokensCte()},
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         substr(md5(array_to_string(t[i:i+${dupGramK - 1}], ' ')), 1, 15) AS gk
        |  FROM toks, UNNEST(range(1, len(t) - ${dupGramK - 2})) AS u(i)
        |  WHERE len(t) >= $dupGramK),
        |fr AS (SELECT gk, count(*) AS df FROM sh GROUP BY gk),
        |st AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         count(*) FILTER (WHERE df >= 2) AS n_dup
        |  FROM sh JOIN fr USING (gk) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |       coalesce(n_dup, 0) AS n_dup,
        |       round(coalesce(n_dup * 1.0 / n_grams, 0), 4) AS dup_frac
        |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin)),
    // exact duplicated-SPAN removal (Lee et al. ExactSubstr, the acting
    // form of x61's profile): every token covered by a corpus-repeated
    // k-gram is cut from every copy, survivors rejoined in order — the
    // k-gram relational spelling of the paper's suffix-array scan
    // (three linear exchanges, nothing quadratic; see SpanDedup)
    // Oracle:
    // x79: positioned grams (occurrence-counted, NOT distinct-per-doc)
    // keyed on the 15-nibble md5 prefix (bijective with SpanDedup's
    // decoded 60-bit portableBase — same equivalence classes, same
    // collisions), covered positions exploded from dup starts,
    // NOT-EXISTS survivor rebuild ordered by position — mirrors
    // SpanDedup step for step
    Entry("x79_span_dedup", (s, d) =>
      SpanDedup.removeDuplicatedSpans(docs(s, d), "doc_id", "text",
        k = dupGramK), Sql(
      s"""WITH ${tokensCte()},
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS gpos,
        |         substr(md5(array_to_string(t[i:i+${dupGramK - 1}], ' ')), 1, 15) AS gk
        |  FROM toks, UNNEST(range(1, len(t) - ${dupGramK - 2})) AS u(i)
        |  WHERE len(t) >= $dupGramK),
        |dup AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, gpos FROM g JOIN dup USING (gk)),
        |cov AS (SELECT DISTINCT doc_id, gpos + j AS p
        |        FROM ds, UNNEST(range(0, $dupGramK)) AS v(j)),
        |nc AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
        |tok AS (SELECT doc_id, t[CAST(i AS INT)] AS tok, CAST(i AS BIGINT) AS p
        |        FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |kept AS (
        |  SELECT tk.doc_id, tk.p, tk.tok FROM tok tk
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |                    WHERE cov.doc_id = tk.doc_id AND cov.p = tk.p)),
        |rb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean
        |       FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, len(b.t)::BIGINT AS n_tokens,
        |       coalesce(nc.n_removed, 0) AS n_removed,
        |       coalesce(rb.text_clean, '') AS text_clean
        |FROM toks b LEFT JOIN nc USING (doc_id) LEFT JOIN rb USING (doc_id)""".stripMargin))
  )
}
