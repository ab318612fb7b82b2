package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers more than one catalog family reads: the table loaders, the
  * memoized corpus count, the fixed-count sample predicate and its
  * DuckDB twin, the recall-gate tail, the integer-cosine SQL, the PII
  * suffix, and the knobs several families interpolate into both the
  * Spark build and its oracle SQL. No family object is imported here,
  * so the families depend on this object and never on each other.
  */
private[graft] object Shared {
  private[catalog] def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private[catalog] def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Corpus row count memoized per data dir: the BM25 auto/forced
    * entries (x86/x87/x92) need `n` only to ROUTE work, yet a fresh
    * `count()` inside the query closure runs inside every timed bench
    * rep — charging a corpus scan to the query under test (r16 verdict
    * note). The corpus dirs are immutable for a session's lifetime, so
    * the first invocation per dir pays the scan (under min-of-N that is
    * at most one timed rep) and every later rep routes on the memo.
    */
  private val corpusCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[catalog] def docsCount(s: SparkSession, d: String): Long =
    corpusCountMemo.computeIfAbsent(d, dir => docs(s, dir).count()).longValue()

  /** The PII suffix as a column expression so the same injection runs on
    * batch (x38/x41) and STREAMING (x52) frames.
    */
  private[catalog] def piiText: Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com ip 10."), (col("doc_id") % 250).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"),
      lit(" tel +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text")

  /** Deterministic FIXED-COUNT sample predicate over an integral key:
    * keeps ~`target` rows regardless of table size. The recall gates'
    * query/probe sets use this so their brute-force truth passes cost
    * O(target · corpus) — LINEAR in corpus size — where the old modulo
    * predicates made Q ∝ corpus and the truth pass quadratic (the one
    * measured super-linear path in PLANS.md's 10× table). The count()
    * is one metadata-cheap job; the DuckDB twin recomputes the same
    * arithmetic from count(*), so n_queries stays cross-engine-checked.
    *
    * The selection is a RANGE test on the 60-bit md5 base
    * (`NearDup.portableBase` of the key's decimal string), NOT a
    * divisibility test on a linear Knuth spread: the round-11 1000×
    * probes caught the old `(key % p) * c % buckets = 0` spelling
    * selecting 27× the target on ScaleGen's replica-id lattice
    * (ids = orig + copy·10^8 — a single multiply is a LINEAR map, and
    * the bucket modulus shares factors with the decimal stride, so
    * whole residue classes alias onto bucket 0; x05's "brute" leg
    * silently ran 1099 queries instead of 40). An md5 avalanche is
    * lattice-free and the `< 2^60/buckets` range test is
    * divisibility-free; measured within Poisson noise of the target on
    * every corpus from sf0.01 to the 5M-doc 1000× (PLANS.md round 11).
    */
  private def fixedCountBuckets(df: DataFrame, target: Long): Int =
    math.max(1L, df.count() / target).toInt

  private[catalog] def fixedCountPred(df: DataFrame, keyCol: String, target: Long): Column =
    graft.neardup.NearDup.portableBase(col(keyCol).cast("string")) <
      lit((1L << 60) / fixedCountBuckets(df, target))

  /** The DuckDB twin of [[fixedCountPred]] as SQL text (same md5-nibble
    * base, same floor-divided bucket count from the same row count).
    */
  private[catalog] def fixedCountPredSql(table: String, keyCol: String,
                                         target: Long): String =
    s"${md5Base60Sql(s"CAST($keyCol AS VARCHAR)")} < 1152921504606846976 // " +
      s"(SELECT greatest(count(*) // $target, 1) FROM $table)"

  /** The recall-gate tail (x27, x32-x35, x47, x49, x68): `hits` = truth
    * rows `found` also holds, one output row with the cross-engine count
    * and the in-plan recall bound, whose oracle is a literal TRUE. With
    * `queries` the count is the query sample (`n_queries` — the oracle's
    * own definition, so a query with fewer than k true neighbors does
    * not skew it) and recall is hits / truth rows; without, the count is
    * the truth pairs (`n_pairs`). An empty truth set passes: under
    * Spark 4's default ANSI mode hits/0 THROWS (DIVIDE_BY_ZERO), so the
    * zero case is branched around, not coalesced after the fact.
    */
  private[catalog] def recallGate(truth: DataFrame, found: DataFrame,
                                  keys: Seq[String], bound: Double,
                                  queries: Option[DataFrame] = None,
                                  okCol: String = "recall_ok"): DataFrame = {
    val hits = truth.join(found, keys, "left_semi")
      .agg(count(lit(1)).as("hits"))
    val (counts, nCol, denom) = queries match {
      case Some(q) =>
        (q.agg(count(lit(1)).as("n_queries"))
          .crossJoin(truth.agg(count(lit(1)).as("denom"))), "n_queries", "denom")
      case None => (truth.agg(count(lit(1)).as("n_pairs")), "n_pairs", "n_pairs")
    }
    counts.crossJoin(hits).select(col(nCol),
      when(col(denom) === 0, lit(true))
        .otherwise(col("hits") / col(denom) >= bound).as(okCol))
  }

  /** DuckDB integer-cosine over two BIGINT[16] lists (the x20i oracle's
    * core): all three dot products are exact integers (< 2^53), cast to
    * double for one guarded divide-over-sqrt-product — the IDENTICAL op
    * sequence `Similarity.cosineTopKIvfInt.cosExact` evaluates, so both
    * engines produce bit-equal doubles and the same argmax/rankings.
    */
  private[catalog] def intCosSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${fakeEmbedDim + 1}), j -> $x[CAST(j AS INT)] * $y[CAST(j AS INT)]))::DOUBLE"
    s"(${d(a, b)} / greatest(sqrt(${d(a, a)}) * sqrt(${d(b, b)}), 1e-9))"
  }

  // knobs read by more than one family (embed width: x17 and every
  // integer-IVF oracle; epsilon-ball: x53/x56/x59/x65 and x69; n-gram
  // width: x61/x62/x79 and the decontamination / corpus-build entries)
  private[catalog] val fakeEmbedDim = 16 // fake-embed components (x17/x20i byte-sum CTEs)
  private[catalog] val semDedupThreshold = 0.999 // x53/x56 epsilon-ball cosine (round-6dp)
  private[catalog] val dupGramK = 8 // x61 duplicated-n-gram width (= decontamination's)

  /** Just the byte-sum integer-embed CTEs (`b acc vec`) — the prefix
    * [[ivfIntAssignCtes]] and the x56 hierarchical chain share.
    */
  private[catalog] val intEmbedVecCtes: String =
    s"""b AS (
      |  SELECT doc_id, i, ord(substr(text, CAST(i + 1 AS INT), 1)) AS byte
      |  FROM documents, UNNEST(range(length(text))) AS u(i)),
      |acc AS (
      |  SELECT doc_id, i % $fakeEmbedDim AS dd,
      |         sum(byte * (1 + ((i // $fakeEmbedDim) % 3))) AS s
      |  FROM b GROUP BY 1, 2),
      |vec AS (SELECT doc_id, list(CAST(s AS BIGINT) ORDER BY dd) AS v
      |        FROM acc GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of `NearDup.portableBase` WITHOUT the mod-P fold: the
    * raw 60-bit md5 base (first 15 hex nibbles as a non-negative
    * BIGINT) — the same nibble-decode spelling as the minhash `hb` CTE,
    * inlined so callers that need the full base (the x64 bloom) don't
    * pre-reduce it.
    */
  private[catalog] def md5Base60Sql(c: String): String =
    s"list_sum(list_transform(range(1, 16), j -> " +
      s"(strpos('0123456789abcdef', substr(md5($c), CAST(j AS INT), 1)) - 1)::BIGINT" +
      s" << CAST((15 - j) * 4 AS INT)))::BIGINT"
}
