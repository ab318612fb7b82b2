package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Sampling
import graft.text.{Pii, TextAnalysis}

/** Helpers more than one catalog family reads: the table loaders, the
  * memoized corpus count, the fixed-count sample predicate and its
  * DuckDB twin, the recall-gate tail, the integer-cosine SQL, the PII
  * suffix, the DuckDB twins of the text, hash, top-k and
  * connected-components primitives, and the knobs several families
  * interpolate into both the Spark build and its oracle SQL. No family
  * object is imported here, so the families depend on this object and
  * never on each other.
  *
  * The rule for twins: the SQL twin of a Spark primitive is generated
  * once, from the constants its column reads (`TextAnalysis`'
  * whitespace regex, stopword lists, quality bounds and repetition
  * gate, `Pii`'s ordered rules, [[piiSuffix]], `Sampling`'s Knuth
  * constants), never typed into an oracle. A fragment one family reads
  * is built in that family's object (the integer-IVF cell chain, the
  * LSH bands, the Jaccard verify step, the BM25 contribution, the
  * packing window, the IoT band); a fragment several families read is
  * built here. A change to a rule is then one edit that reaches both
  * engines. Each twin is a single-line fragment or a CTE block whose
  * interpolated lines never start with `|`: the oracles interpolate it
  * into `stripMargin` templates, where a line that starts with `|` (a
  * `||` concat) would lose that bar.
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

  // ---- DuckDB twins of the hash and top-k primitives ----

  /** Twin of `Sampling.hashBucket(key, buckets)`: the Knuth spread of
    * `key` folded into [0, buckets). The inner modulus comes before the
    * multiply, so the product stays inside DuckDB's BIGINT, and
    * `+ buckets) % buckets` folds a negative key into range (both
    * engines truncate `%` toward zero). `buckets` is SQL text, so a
    * bucket column reads it as well as a literal.
    */
  private[catalog] def hashBucketSql(key: String, buckets: String): String =
    s"(($key % ${Sampling.knuthModulus}) * ${Sampling.knuthMultiplier} % $buckets" +
      s" + $buckets) % $buckets"

  private[catalog] def hashBucketSql(key: String, buckets: Int): String =
    hashBucketSql(key, buckets.toString)

  /** Twin of the top-k rank of `Similarity` and `Retrieval`: per qid,
    * row_number over (`score` DESC, nid ASC), as BIGINT.
    */
  private[catalog] def rankSql(score: String = "sim"): String =
    s"CAST(row_number() OVER (PARTITION BY qid ORDER BY $score DESC, nid ASC) AS BIGINT)"

  /** The top-k tail over `src`(qid, nid, sim): `r` ranks by [[rankSql]],
    * and the final SELECT keeps rnk <= `k` (qid, nid, sim, rnk).
    */
  private[catalog] def topKTailSql(src: String, k: Int): String =
    s"""r AS (
      |  SELECT qid, nid, sim, ${rankSql()} AS rnk
      |  FROM $src)
      |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= $k""".stripMargin

  /** Twin of `NearDup.dupClusters`, the connected components the
    * near-dup and kNN families close their pairs with: `cc_ed` is the
    * symmetric edge set of `pairs`(doc_a, doc_b), `cc_r` the recursive
    * label fold, and the final SELECT gives each doc of a pair its
    * component (doc_id, cluster_id = the least member id). The caller's
    * WITH must be RECURSIVE.
    */
  private[catalog] def componentsSql(pairs: String): String =
    s"""cc_ed AS (SELECT doc_a AS src, doc_b AS dst FROM $pairs
      |          UNION SELECT doc_b, doc_a FROM $pairs),
      |cc_r AS (
      |  SELECT src AS id, src AS label FROM cc_ed
      |  UNION
      |  SELECT cc_ed.dst AS id, cc_r.label
      |  FROM cc_r JOIN cc_ed ON cc_ed.src = cc_r.id)
      |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
      |FROM cc_r GROUP BY id""".stripMargin

  /** One piece of the synthetic PII suffix: a literal, the doc id, the
    * doc id modulo `m`, or that residue left-padded with zeros to `width`.
    */
  private sealed trait PiiPart
  private final case class Text(s: String) extends PiiPart
  private case object Id extends PiiPart
  private final case class Mod(m: Int) extends PiiPart
  private final case class Padded(m: Int, width: Int) extends PiiPart

  /** The deterministic PII appended to each doc: an email, an IPv4
    * address and a phone number, each a pure function of doc_id.
    */
  private val piiSuffix: Seq[PiiPart] = Seq(
    Text(" contact user"), Id, Text("@mail.example.com ip 10."), Mod(250),
    Text(".0."), Mod(100), Text(" tel +1-555-"), Padded(10000, 4))

  /** The PII suffix as a column expression so the same injection runs on
    * batch (x38/x41) and STREAMING (x52) frames.
    */
  private[catalog] def piiText: Column =
    concat(col("text") +: piiSuffix.map {
      case Text(t) => lit(t)
      case Id => col("doc_id").cast("string")
      case Mod(m) => (col("doc_id") % m).cast("string")
      case Padded(m, w) => lpad((col("doc_id") % m).cast("string"), w, "0")
    }: _*).as("text")

  /** DuckDB twin of [[piiText]] over `documents`' text and doc_id. */
  private[catalog] val piiTextSql: String =
    ("text" +: piiSuffix.map {
      case Text(t) => s"'$t'"
      case Id => "doc_id"
      case Mod(m) => s"(doc_id % $m)"
      case Padded(m, w) => s"lpad((doc_id % $m)::VARCHAR, $w, '0')"
    }).mkString(" || ")

  // ---- DuckDB twins of the text primitives ----

  /** Twin of `TextAnalysis.tokens` over the column `text`. */
  private[catalog] val tokensSql: String =
    s"list_filter(string_split_regex(lower(trim(text)), '${TextAnalysis.whitespaceRe}'), x -> x <> '')"

  /** The CTE `name AS (SELECT keys, <tokens of text> AS t FROM src)`. */
  private[catalog] def tokensCte(name: String = "toks", t: String = "t",
                                 keys: String = "doc_id",
                                 src: String = "documents"): String =
    s"""$name AS (
      |  SELECT $keys, $tokensSql AS $t
      |  FROM $src)""".stripMargin

  /** Twin of `NearDup.shinglesFromToks`: the distinct word k-shingles
    * (doc_id, shingle) of the token lists `t` of relation `src`.
    */
  private[catalog] def shingleCte(out: String, k: Int, src: String = "toks",
                                  t: String = "t"): String =
    s"""$out AS (
      |  SELECT DISTINCT doc_id, array_to_string($t[i:i+${k - 1}], ' ') AS shingle
      |  FROM $src, UNNEST(range(1, ${lenMinus(t, k - 2)})) AS u(i)
      |  WHERE len($t) >= $k)""".stripMargin

  /** The word-shingle CTE pair the Jaccard/MinHash and decontamination
    * oracles share: `toks` (doc_id, t) over documents, then the k-shingle
    * set named `out`.
    */
  private[catalog] def wordShingleCtes(out: String, k: Int): String =
    s"${tokensCte()},\n${shingleCte(out, k)}"

  private def lenMinus(list: String, m: Int): String =
    if (m == 0) s"len($list)" else s"len($list) - $m"

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(",")

  /** Twin of `TextAnalysis`' stopword hit count of `words` in `toks`. */
  private[catalog] def stopHitsSql(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, x -> x IN (${sqlList(words)})))"

  /** One `<lang>_hits` column per stopword list, in tie order; `wrap`
    * shapes each count (x08 casts them to INTEGER).
    */
  private[catalog] def langHitsSql(toks: String,
                                   wrap: String => String = identity): String =
    TextAnalysis.stopWords.map { case (l, ws) =>
      s"${wrap(stopHitsSql(toks, ws))} AS ${l}_hits"
    }.mkString(", ")

  /** Twin of `TextAnalysis.predLangFromToks` over the [[langHitsSql]]
    * columns: the argmax language, earlier languages winning ties, and
    * `und` on zero hits.
    */
  private[catalog] val predLangSql: String = {
    val langs = TextAnalysis.stopWords.map(_._1)
    val best = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
    (s"CASE WHEN $best = 0 THEN '${TextAnalysis.undLang}'" +:
      langs.init.map(l => s"WHEN ${l}_hits = $best THEN '$l'") :+
      s"ELSE '${langs.last}' END").mkString(" ")
  }

  /** Twin of the punctuation count inside `qualityBucketFromToks`. */
  private[catalog] val punctCountSql: String =
    s"length(regexp_replace(text, '${TextAnalysis.nonPunctRe}', '', 'g'))"

  /** Twin of `TextAnalysis.qualityBucketFromToks` over a token count,
    * the [[punctCountSql]] column `n_punct` and a character count.
    */
  private[catalog] def qualityBucketSql(nTok: String,
                                        nChars: String = "n_chars"): String =
    s"CASE WHEN $nTok < ${TextAnalysis.minTokens} THEN 'too_short' " +
      s"WHEN n_punct::DOUBLE / greatest($nChars, 1) > ${TextAnalysis.punctHeavyRatio} " +
      "THEN 'punct_heavy' ELSE 'ok' END"

  /** Twin of `TextAnalysis.fingerprintCol` over the column `text`. */
  private[catalog] val fingerprintSql: String =
    s"md5(regexp_replace(lower(trim(text)), '${TextAnalysis.whitespaceRe}', ' ', 'g'))"

  /** Twin of `TextAnalysis.wordGramsFromToks`: DuckDB lists are 1-based
    * and slices inclusive, and `range` is end-exclusive.
    */
  private[catalog] def wordGramsSql(toks: String, n: Int): String =
    s"CASE WHEN len($toks) >= $n THEN list_transform(range(1, ${lenMinus(toks, n - 2)}), " +
      s"i -> array_to_string($toks[i:i+${n - 1}], ' ')) ELSE []::VARCHAR[] END"

  /** The duplicate-gram fraction `repetitiveFromGrams` compares. */
  private[catalog] def repRatioSql(grams: String): String =
    s"round(1 - len(list_distinct($grams))::DOUBLE / len($grams), 4)"

  /** Twin of `TextAnalysis.repetitiveFromGrams` at its default bound. */
  private[catalog] def repetitiveSql(grams: String): String =
    s"(len($grams) <> 0 AND ${repRatioSql(grams)} >= ${TextAnalysis.repetitionThreshold})"

  /** Twin of `Pii.redactedCol`: the rules applied in their fixed order. */
  private[catalog] def redactSql(text: String): String =
    Pii.rules.foldLeft(text) { case (t, (re, tag)) =>
      s"regexp_replace($t, '$re', '$tag', 'g')"
    }

  /** The signal CTEs over relation `src`: `e` holds the fingerprint,
    * tokens and the character and punctuation counts, `g` the tokens,
    * stopword hits, quality bucket and the repetition gate's word grams.
    * A reader that needs fewer of `g`'s columns names the ones it reads,
    * and DuckDB prunes the rest.
    */
  private def signalCtes(src: String): String =
    s"""e AS (
      |  SELECT doc_id,
      |         $fingerprintSql AS fingerprint,
      |         $tokensSql AS toks,
      |         length(text) AS n_chars,
      |         $punctCountSql AS n_punct
      |  FROM $src),
      |g AS (
      |  SELECT doc_id, fingerprint, toks,
      |    ${langHitsSql("toks")},
      |    ${qualityBucketSql("len(toks)")} AS quality_bucket,
      |    ${wordGramsSql("toks", TextAnalysis.repetitionN)} AS grams
      |  FROM e)""".stripMargin

  /** The signal CTEs of `Curation.curate` (x26/x44) over `documents`. */
  private[catalog] val curateCtes: String = signalCtes("documents")

  /** The signal CTEs x41/x81/x82 (`Curation.curatedDocs`) and x52
    * (`CorpusStream.curate`) share: `p` injects and redacts the PII, then
    * `e`/`g` as in [[signalCtes]].
    */
  private[catalog] val corpusSignalCtes: String =
    s"""p AS (
      |  SELECT doc_id, ${redactSql(piiTextSql)} AS text
      |  FROM documents),
      |${signalCtes("p")}""".stripMargin

  /** The corpus gates over a [[corpusSignalCtes]] `g` row: quality ok,
    * English, and not repetitive.
    */
  private[catalog] val corpusGateSql: String =
    s"quality_bucket = 'ok' AND $predLangSql = 'en' AND NOT ${repetitiveSql("grams")}"

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
