package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops._
import graft.pipelines.Curation
import graft.text.{Bm25Route, Retrieval, TextAnalysis}
import graft.sim.Similarity

/** The text family: language ID, quality and diversity profiles, token
  * statistics, fingerprints, TF-IDF, the composed curation pipeline,
  * the split assignment, and BM25 retrieval (every route) with its
  * hybrid rank fusion. The BM25 and RRF knobs sit beside the entries
  * that read them.
  */
private[graft] object TextQueries {
  import Shared._

  private val bmK1 = 1.2    // x70 BM25 TF-saturation knob (textbook default)
  private val bmB  = 0.75   // x70 BM25 length-normalization knob
  private val bmK  = 5      // x70 hits returned per query
  private val bmDfFrac = 0.9 // x70 fractional df-cap (documents' 31-word synthetic vocabulary tops out at df ~0.79)
  private val bmQueryTarget = 40L // x70 fixed-count query-sample size
  private val bmBatches = 4 // x89 query-batch count (scratch ∝ 1/batches)
  private val vocabBucketDocs = 100 // x84 ids per curve bucket
  private val rrfQueryTarget = 20L // x77 fixed-count query sample over the doc∩vec corpus
  private val rrfLegK = 10 // x77 per-ranker candidate-list depth fed to the fuse
  private val rrfC = 60    // x77 RRF damping constant (Cormack et al. 2009's 60)
  private val rrfTopK = 5  // x77 fused hits returned per query
  private val curateKeepPer100 = 50 // x26 sample rate in hash buckets of 100
  private val docBucketSql = hashBucketSql("doc_id", 100) // x26 sample and x66 split bucket

  /** Twin of `Retrieval`'s fixed-point BM25 contribution of one
    * (query term, doc) row: the rational idf (n - df + 0.5) / (df +
    * 0.5) times the saturated, length-normalized tf, floored to
    * integer millionths, as the fixed IEEE sequence the Spark plan
    * evaluates. Reads `q`(n, df, sl) and `tf`(tf, dl); every float
    * constant is interpolated from the same Scala doubles (::DOUBLE
    * keeps DuckDB out of DECIMAL arithmetic).
    */
  private val bm25ContribSql: String =
    s"""CAST(floor(
       |           ((CAST(q.n - q.df AS DOUBLE) + 0.5::DOUBLE)
       |             / (CAST(q.df AS DOUBLE) + 0.5::DOUBLE))
       |           * (CAST(tf.tf AS DOUBLE) * ${bmK1 + 1}::DOUBLE
       |              / (CAST(tf.tf AS DOUBLE)
       |                 + ${bmK1}::DOUBLE * (${1 - bmB}::DOUBLE
       |                     + ${bmB}::DOUBLE * CAST(tf.dl AS DOUBLE)
       |                       / (CAST(q.sl AS DOUBLE) / CAST(q.n AS DOUBLE)))))
       |           * 1e6) AS BIGINT)""".stripMargin

  /** The x70 BM25 oracle text, shared verbatim by x86 (the
    * impact-ordered spelling is output-identical by construction
    * and spec-pinned equal in RetrievalSpec).
    *
    * Term identity everywhere is `tid` — the 15-nibble md5 prefix of
    * the term, bijective with the decoded 60-bit `portableBase` long
    * the Spark side shuffles (Retrieval.bm25Parts) — and, exactly as on
    * the Spark side, the postings are SCREENED to the query-term
    * strings BEFORE the tid grouping: a corpus term outside the query
    * vocabulary must never merge into a colliding query term's
    * postings, because the engine's screened index never sees it.
    */
  private lazy val bm25TopKOracle: String =
    s"""WITH ${tokensCte(t = "tk")},
        |st AS (SELECT count(*) AS n, sum(len(tk))::BIGINT AS sl FROM toks),
        |qs AS (
        |  SELECT DISTINCT u.term, substr(md5(u.term), 1, 15) AS tid
        |  FROM toks, UNNEST(tk) AS u(term)
        |  WHERE ${fixedCountPredSql("documents", "toks.doc_id", bmQueryTarget)}),
        |qt AS (
        |  SELECT DISTINCT toks.doc_id AS qid, substr(md5(u.term), 1, 15) AS tid
        |  FROM toks, UNNEST(tk) AS u(term)
        |  WHERE ${fixedCountPredSql("documents", "toks.doc_id", bmQueryTarget)}),
        |tf AS (
        |  SELECT e.nid, e.dl, qs.tid, count(*) AS tf
        |  FROM (SELECT toks.doc_id AS nid, len(tk)::BIGINT AS dl, u.term
        |        FROM toks, UNNEST(tk) AS u(term)) e
        |  JOIN qs USING (term)
        |  GROUP BY 1, 2, 3),
        |dfs AS (SELECT tid, count(*) AS df FROM tf GROUP BY tid),
        |q AS (SELECT qt.qid, qt.tid, dfs.df, st.n, st.sl
        |      FROM qt JOIN dfs USING (tid) CROSS JOIN st
        |      WHERE dfs.df <= floor($bmDfFrac::DOUBLE * CAST(st.n AS DOUBLE))),
        |sc AS (
        |  SELECT q.qid, tf.nid,
        |         $bm25ContribSql AS c
        |  FROM q JOIN tf USING (tid)
        |  WHERE tf.nid <> q.qid),
        |ag AS (SELECT qid, nid, CAST(sum(c) AS BIGINT) AS score
        |       FROM sc GROUP BY 1, 2),
        |r AS (SELECT qid, nid, score, ${rankSql("score")} AS rnk
        |      FROM ag)
        |SELECT qid, nid, score, rnk FROM r WHERE rnk <= $bmK""".stripMargin

  /** The char-trigram profile language ID of x21/x30 — the twin of
    * `TextAnalysis.trainNgramProfiles` and `classifyNgram`: each
    * language's 200 most frequent distinct trigrams, weighted 201 -
    * rank, are trained on the labeled docs matching `trainPred`; every
    * doc matching `testPred` gets its best-scoring language (the lower
    * code on a tie, 'und' with score 0 when no trigram hits).
    */
  private def ngramLangIdOracle(trainPred: String, testPred: String): String =
    s"""WITH d AS (
      |  SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
      |g AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN length(t) >= 3
      |              THEN list_distinct(list_transform(range(1, length(t) - 1),
      |                                                i -> t[i:i+2]))
      |              ELSE [] END AS grams
      |  FROM d),
      |etr AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g
      |        WHERE $trainPred),
      |ete AS (SELECT doc_id, unnest(grams) AS gram FROM g
      |        WHERE $testPred),
      |prof AS (
      |  SELECT lang AS p_lang, gram, 201 - rnk AS weight FROM (
      |    SELECT lang, gram,
      |           row_number() OVER (PARTITION BY lang
      |                              ORDER BY count(*) DESC, gram ASC) AS rnk
      |    FROM etr WHERE lang IS NOT NULL GROUP BY lang, gram) t
      |  WHERE rnk <= 200),
      |sc AS (
      |  SELECT doc_id, p_lang, CAST(sum(weight) AS BIGINT) AS score
      |  FROM ete JOIN prof USING (gram) GROUP BY doc_id, p_lang),
      |best AS (
      |  SELECT doc_id, p_lang, score FROM (
      |    SELECT doc_id, p_lang, score,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY score DESC, p_lang ASC) AS rn
      |    FROM sc) t WHERE rn = 1)
      |SELECT g.doc_id, coalesce(best.p_lang, 'und') AS pred_lang,
      |       coalesce(best.score, 0) AS best_score
      |FROM g LEFT JOIN best USING (doc_id)
      |WHERE $testPred""".stripMargin

  val entries: Seq[Entry] = Seq(
    // ---- north-star extensions: text analysis ----
    Entry("x08_langid", (s, d) => TextAnalysis.langId(docs(s, d), "doc_id", "text"), Sql(
      s"""WITH ${tokensCte("t", t = "toks")},
        |h AS (
        |  SELECT doc_id,
        |    ${langHitsSql("toks", h => s"CAST($h AS INTEGER)")}
        |  FROM t)
        |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        |  $predLangSql AS pred_lang
        |FROM h""".stripMargin)),
    // char-trigram profile language ID, profiles trained in-plan from the
    // labeled corpus — pure relational arithmetic end to end, so the
    // whole train→score→argmax path is replicated by the DuckDB oracle
    Entry("x21_langid_ngram", (s, d) =>
      TextAnalysis.langIdNgram(docs(s, d), "doc_id", "text", "lang")
        .withColumnRenamed("id", "doc_id"),
      Sql(ngramLangIdOracle("TRUE", "TRUE"))),
    // the factored train/test path: profiles trained OFFLINE on the even
    // split (tiny broadcastable frame — at 100 TB you persist this), test
    // split classified against them — the production inference shape
    Entry("x30_langid_pretrained", (s, d) => {
      val all = docs(s, d)
      val profiles = TextAnalysis.trainNgramProfiles(
        TextAnalysis.docNgrams(all.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", "lang"))
      TextAnalysis.classifyNgram(
          TextAnalysis.docNgrams(all.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", "lang"), profiles)
        .withColumnRenamed("id", "doc_id")
    }, Sql(ngramLangIdOracle("doc_id % 2 = 0", "doc_id % 2 = 1"))),
    Entry("x09_text_quality", (s, d) => TextAnalysis.quality(docs(s, d), "doc_id", "text"), Sql(
      s"""WITH ${tokensCte("t", t = "toks", keys = "doc_id, text")},
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(length(text) AS INTEGER) AS len_chars,
        |    CAST($punctCountSql AS INTEGER) AS n_punct,
        |    CAST(${stopHitsSql("toks", TextAnalysis.allStopWords)} AS INTEGER) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tokens, len_chars,
        |  round(len_chars::DOUBLE / greatest(n_tokens, 1), 3) AS chars_per_token,
        |  round(n_punct::DOUBLE / greatest(len_chars, 1), 4) AS punct_ratio,
        |  round(n_stop::DOUBLE / greatest(n_tokens, 1), 4) AS stopword_ratio,
        |  ${qualityBucketSql("n_tokens", nChars = "len_chars")} AS quality_bucket
        |FROM m""".stripMargin)),
    // per-source distinct-n lexical diversity (distinct-1/distinct-2):
    // the before/after health check of every curation pass — two
    // explode→distinct-count passes, one row per domain
    // Oracle:
    // x80: same tokenization, positional bigrams, per-source distinct
    // counts and 4-dp ratios — the x61 division/coalesce idiom
    Entry("x80_diversity_profile", (s, d) =>
      TextAnalysis.diversityProfile(docs(s, d), "source", "text"), Sql(
      s"""WITH ${tokensCte("t", t = "tk", keys = "source")},
        |d AS (SELECT source AS domain, count(*) AS n_docs,
        |             sum(len(tk))::BIGINT AS n_tokens
        |      FROM t GROUP BY 1),
        |u1 AS (SELECT source AS domain, count(DISTINCT g) AS uniq_1
        |       FROM t, UNNEST(tk) AS x(g) GROUP BY 1),
        |u2 AS (SELECT source AS domain, count(DISTINCT g) AS uniq_2,
        |              count(*) AS n_bigrams
        |       FROM (SELECT source,
        |               tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS g
        |             FROM t, UNNEST(range(1, len(tk))) AS v(i)
        |             WHERE len(tk) >= 2)
        |       GROUP BY 1)
        |SELECT d.domain, d.n_docs, d.n_tokens,
        |       coalesce(u1.uniq_1, 0) AS uniq_1,
        |       coalesce(u2.uniq_2, 0) AS uniq_2,
        |       round(coalesce(u1.uniq_1 * 1.0 / d.n_tokens, 0), 4) AS distinct_1,
        |       round(coalesce(u2.uniq_2 * 1.0 / u2.n_bigrams, 0), 4) AS distinct_2
        |FROM d LEFT JOIN u1 USING (domain) LEFT JOIN u2 USING (domain)""".stripMargin)),
    // Heaps-law vocabulary growth: cumulative distinct tokens in
    // doc-id order via the min-first-occurrence aggregate (no rescan);
    // the tokenizer-sizing / corpus-freshness curve
    // Oracle:
    // x84: the min-first-occurrence spelling of cumulative distinct,
    // identical IEEE floor-division bucketing, running sums over the
    // bucket frame
    Entry("x84_vocab_growth", (s, d) =>
      TextAnalysis.vocabGrowth(docs(s, d), "doc_id", "text",
        bucketDocs = vocabBucketDocs), Sql(
      s"""WITH ${tokensCte("t", t = "tk")},
        |b AS (SELECT CAST(floor(doc_id / ${vocabBucketDocs.toDouble}) AS BIGINT) AS bucket,
        |             count(*) AS n_docs, sum(len(tk))::BIGINT AS n_tokens
        |      FROM t GROUP BY 1),
        |f AS (SELECT g, min(doc_id) AS first_id
        |      FROM t, UNNEST(tk) AS x(g) GROUP BY g),
        |nt AS (SELECT CAST(floor(first_id / ${vocabBucketDocs.toDouble}) AS BIGINT) AS bucket,
        |              count(*) AS n_new FROM f GROUP BY 1)
        |SELECT b.bucket, b.n_docs, b.n_tokens,
        |       coalesce(nt.n_new, 0) AS n_new_terms,
        |       CAST(sum(b.n_tokens) OVER (ORDER BY b.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_tokens,
        |       CAST(sum(coalesce(nt.n_new, 0)) OVER (ORDER BY b.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS vocab_size
        |FROM b LEFT JOIN nt USING (bucket)""".stripMargin)),
    Entry("x10_token_counts", (s, d) => TextAnalysis.tokenCounts(docs(s, d), "doc_id", "text"), Sql(
      s"""SELECT doc_id,
        |  CAST(len($tokensSql) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeTokenRe}'))
        |    AS INTEGER) AS bpe_tokens
        |FROM documents""".stripMargin)),
    Entry("x11_fingerprint", (s, d) => TextAnalysis.fingerprint(docs(s, d), "doc_id", "text"), Sql(
      s"""SELECT doc_id,
        |       $fingerprintSql AS fingerprint
        |FROM documents""".stripMargin)),
    Entry("x12_rolling_hash", (s, d) => TextAnalysis.rollingHash(docs(s, d), "doc_id", "text"), Sql(
      s"""WITH ${tokensCte("t", t = "toks")},
        |h AS (
        |  SELECT doc_id,
        |         list_transform(toks, tok ->
        |           list_reduce(
        |             list_prepend(CAST(7 AS BIGINT),
        |               list_transform(string_split(tok, ''),
        |                              c -> CAST(ascii(c) AS BIGINT))),
        |             (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |  FROM t)
        |SELECT doc_id,
        |       list_reduce(list_prepend(CAST(104729 AS BIGINT), th),
        |                   (a, b) -> (a * 131 + b) % 1000000007) AS rolling_hash
        |FROM h""".stripMargin)),
    Entry("x23_tfidf_terms", (s, d) =>
      TextAnalysis.tfidfTopTerms(docs(s, d), "doc_id", "text", k = 3), Sql(
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($tokensSql) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, term, tf,
        |         round(tf * ln((n_docs + 1) / (dfreq + 1.0)), 6) AS score
        |  FROM tf JOIN dfreq USING (term), n),
        |r AS (
        |  SELECT doc_id, term, tf, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                                 ORDER BY score DESC, term ASC) AS INT) AS rnk
        |  FROM s)
        |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3""".stripMargin)),
    // the composed curation pipeline: quality gate → language gate →
    // fingerprint dedup → deterministic sample, ONE corpus pass + one
    // dedup shuffle (see pipelines.Curation)
    Entry("x26_curation_pipeline", (s, d) =>
      Curation.curate(docs(s, d), "doc_id", "text",
        lang = "en", keepPer100 = curateKeepPer100), Sql(
      s"""WITH $curateCtes,
        |l AS (
        |  SELECT doc_id, fingerprint, quality_bucket,
        |    $predLangSql AS pred_lang
        |  FROM g),
        |d AS (
        |  SELECT doc_id, fingerprint, pred_lang,
        |         row_number() OVER (PARTITION BY fingerprint
        |                            ORDER BY doc_id ASC) AS rn
        |  FROM l WHERE quality_bucket = 'ok' AND pred_lang = 'en')
        |SELECT doc_id, fingerprint, pred_lang FROM d
        |WHERE rn = 1
        |  AND $docBucketSql < $curateKeepPer100""".stripMargin)),
    // deterministic 80/10/10 train/val/test split: the pure Knuth-spread
    // bucket of doc_id → a stable per-doc label; no rand(), no engine
    // hash — re-materializing the corpus never moves a doc across the
    // eval boundary. Map-only, pipelines in the scan stage
    // Oracle:
    // split replay: the same portable-pmod bucket arithmetic as the
    // sampling family, CASE'd into the three labels
    Entry("x66_split_assign", (s, d) =>
      Sampling.splitAssign(
        docs(s, d).select("doc_id", "lang", "source"), "doc_id"), Sql(
      s"""SELECT doc_id, lang, source,
        |       CAST($docBucketSql AS BIGINT) AS bucket,
        |       CASE WHEN $docBucketSql < 80 THEN 'train'
        |            WHEN $docBucketSql < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // ---- BM25 retrieval and hybrid rank fusion ----
    // BM25 lexical top-k retrieval: query docs (fixed-count sample)
    // against the whole corpus over a df-capped inverted index —
    // rational idf + fixed-point contributions keep every score an
    // exact integer both engines replay (see text.Retrieval for the
    // two documented deviations from the textbook formula)
    // Oracle:
    // x86 (impact-ordered BM25) is output-identical by construction
    // and spec (RetrievalSpec), so it shares this oracle text verbatim
    Entry("x70_bm25_topk", (s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac), Sql(bm25TopKOracle)),
    // BM25 top-k, auto-routed on corpus size and scratch budget (see the
    // route table in text.Retrieval): every harness corpus sits below
    // the measured 250k-doc crossover, so this runs the plain exact
    // join; output is route-invariant, so the oracle needs no replay of
    // the rule
    Entry("x86_bm25_wand", (s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Auto(docsCount(s, d)),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac), Sql(bm25TopKOracle)),
    // the Impact route forced: x86 never reaches it on a harness
    // corpus, so this entry keeps it under oracle replay (and under
    // Bench's sf0.001 warm pass)
    // Oracle:
    // x70: inverted index + true-df + 1-row stats, then the identical
    // fixed-IEEE contribution sequence floored to integer millionths —
    // every float constant below is interpolated from the SAME Scala
    // doubles the Spark plan lits (shortest-round-trip formatting, and
    // ::DOUBLE casts keep DuckDB out of DECIMAL arithmetic).
    // x87 forces the Impact route, so it stays under oracle replay on
    // corpora where x86 auto-routes to Plain
    Entry("x87_bm25_wand_forced", (s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Impact(),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac), Sql(bm25TopKOracle)),
    // the Batched route forced at [bmBatches]: the shape a >5M-docs-
    // per-node deployment runs, kept under oracle replay
    // Oracle:
    // the batch split partitions the query set exhaustively and scores
    // are per-query, so the batched union equals the one-shot run —
    // the same oracle text replays it
    Entry("x89_bm25_batched", (s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Batched(bmBatches),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac), Sql(bm25TopKOracle)),
    // Auto's scratch branch forced: a budget of half the estimate for
    // the corpus at hand makes Auto pick 2 batches at every harness
    // corpus, where the default 48 GiB budget never engages
    // Oracle:
    // x92 (scratch-forced auto) routes to the batched spelling, which
    // is output-identical to x70 — same shared oracle text
    Entry("x92_bm25_auto_scratch", (s, d) => {
      val n = docsCount(s, d)
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Auto(n, bmQueryTarget, math.max(1L,
          Retrieval.bm25ScratchEstimateMb(n, bmQueryTarget) / 2)),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac)
    }, Sql(bm25TopKOracle)),
    // hybrid retrieval: the x70 sparse (BM25) and x05 dense (brute
    // cosine) rankers run over the doc∩vec corpus (doc_id = vec_id)
    // with ONE shared query sample, fused by reciprocal-rank fusion —
    // rank-only integer contributions, so the fused list hashes
    // cross-engine (see Retrieval.rrfFuse)
    // Oracle:
    // x77: the x70 BM25 chain and the x05 cosine chain re-run over the
    // doc∩vec corpus CTE, then the RRF fuse — every contribution is
    // floor(1e6 / (C + rnk)) on integer-exact doubles, so the fused
    // integer scores replay bitwise
    Entry("x77_rrf_fusion", (s, d) => {
      // the doc∩vec corpus is CACHED: the fused plan consumes it six
      // times (the fixed-count pred's count, three references inside
      // the BM25 leg, two in the dense leg), and uncached each instance
      // re-executes the docs⋈embeddings shuffle join — at the 5M-doc
      // probe that is ~1 GB of text shuffled per instance and the query
      // measured 41.7× wall for the 100×→1000× step. One materialized
      // join (the production "persist the joined view" move, as in
      // pipelines.Curation's staged caches) restores the linear shape;
      // Bench/Verify clear the cache between runs
      val corpus = docs(s, d).join(
        Tables.embeddings(s, d).withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id")).cache()
      val pred = fixedCountPred(corpus, "doc_id", rrfQueryTarget)
      val sparse = Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
        k1 = bmK1, b = bmB, k = rrfLegK, maxDfFrac = bmDfFrac)
      val dense = Similarity.cosineTopK(corpus, "doc_id", "embedding", pred,
        k = rrfLegK)
      Retrieval.rrfFuse(Seq(sparse.select("qid", "nid", "rnk"),
        dense.select("qid", "nid", "rnk")), kRrf = rrfC, k = rrfTopK)
    }, Sql(
      s"""WITH c AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |${tokensCte(t = "tk", src = "c")},
        |tf AS (
        |  SELECT doc_id AS nid, len(tk)::BIGINT AS dl, u.term, count(*) AS tf
        |  FROM toks, UNNEST(tk) AS u(term)
        |  GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |st AS (SELECT count(*) AS n, sum(len(tk))::BIGINT AS sl FROM toks),
        |q AS (SELECT tf.nid AS qid, tf.term, dfs.df, st.n, st.sl
        |      FROM tf JOIN dfs USING (term) CROSS JOIN st
        |      WHERE ${fixedCountPredSql("c", "tf.nid", rrfQueryTarget)}
        |        AND dfs.df <= floor($bmDfFrac::DOUBLE * CAST(st.n AS DOUBLE))),
        |sc AS (
        |  SELECT q.qid, tf.nid,
        |         $bm25ContribSql AS cb
        |  FROM q JOIN tf USING (term)
        |  WHERE tf.nid <> q.qid),
        |ag AS (SELECT qid, nid, CAST(sum(cb) AS BIGINT) AS score
        |       FROM sc GROUP BY 1, 2),
        |sr AS (SELECT qid, nid, ${rankSql("score")} AS rnk
        |       FROM ag),
        |dq AS (SELECT doc_id AS qid, embedding::DOUBLE[] AS qvec FROM c
        |       WHERE ${fixedCountPredSql("c", "doc_id", rrfQueryTarget)}),
        |dsim AS (
        |  SELECT dq.qid, e.doc_id AS nid,
        |         round(list_cosine_similarity(dq.qvec, e.embedding::DOUBLE[]), 6) AS sim
        |  FROM dq, c e WHERE e.doc_id <> dq.qid),
        |dr AS (SELECT qid, nid, ${rankSql()} AS rnk
        |       FROM dsim),
        |u AS (
        |  SELECT qid, nid,
        |         CAST(floor(1000000.0 / ($rrfC::DOUBLE + CAST(rnk AS DOUBLE)))
        |           AS BIGINT) AS cc
        |  FROM sr WHERE rnk <= $rrfLegK
        |  UNION ALL
        |  SELECT qid, nid,
        |         CAST(floor(1000000.0 / ($rrfC::DOUBLE + CAST(rnk AS DOUBLE)))
        |           AS BIGINT)
        |  FROM dr WHERE rnk <= $rrfLegK),
        |f AS (SELECT qid, nid, CAST(sum(cc) AS BIGINT) AS score
        |      FROM u GROUP BY 1, 2),
        |fr AS (SELECT qid, nid, score, ${rankSql("score")} AS rnk
        |       FROM f)
        |SELECT qid, nid, score, rnk FROM fr WHERE rnk <= $rrfTopK""".stripMargin))
  )
}
