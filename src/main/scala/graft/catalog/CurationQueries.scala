package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pipelines.Curation
import graft.text.{CcNet, Dsir, Pii, TextAnalysis}
import graft.neardup.Decontaminate
import graft.sim.Similarity
import graft.multimodal.Multimodal

/** The multimodal and training-data curation family: multimodal
  * plumbing (decode, embed top-k, resize, frame sampling and dedup),
  * decontamination (n-gram, bloom, semantic), selection and mixing,
  * tokenizer training, packing and sharding, PII redaction and the
  * corpus builds / funnel.
  */
private[graft] object CurationQueries {
  import Shared._

  /** Documents with deterministic synthetic PII (email / IPv4 / phone
    * derived from doc_id) appended — the shared fixture for the PII
    * scrub (x38) and the corpus build (x41). Every value is a pure
    * function of doc_id so the DuckDB oracle rebuilds it byte-for-byte.
    */
  private def docsWithPii(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), piiText)

  private val mmQueryTarget = 50L // x17/x40 fixed-count query-sample size
  private val mmTopK = 3 // x17/x40 neighbors per query
  private val exportShards = 8 // x54 shuffle-shard export shard count
  private val packShards = 8 // x37/x43 and the corpus builds' pack shard count
  private val packBudget = 512 // x37/x43 tokens per sequence
  private val corpusPackBudget = 256 // x41/x81 tokens per sequence
  private val domainCapK = 10  // x55 max docs kept per source domain
  private val bloomMBits  = 258048L // x64 bloom size: 4096 63-bit words (~32 KB)
  private val bloomHashes = 3       // x64 bits set per gram
  private val tokenBudget = 1500L // x71 per-domain token budget (keeps ~1/3 of each sf0.01 domain)
  private val bpeTopN = 20 // x72 merge candidates returned
  private val dsirBuckets = 256 // x73 hashed-ngram feature dimension
  private val dsirK = 100       // x73 selected-subset size (1/5 of sf0.01 corpus)
  private val bpeMerges = 4     // x75 learned-merge count
  private val semDecontamEvalTarget = 40L // x69 fixed-count eval-benchmark size
  private val tempTau = 2       // x78 mixing temperature (α = 1−1/τ = 0.5)
  private val tempBuckets = 1000 // x78 hash-rate resolution (1/B quantization)

  /** x41's oracle chain through the fingerprint dedup `dd`, which
    * x81/x82 extend: the curation signals and gates (PII inject+redact →
    * tokenize/fingerprint → quality/language/repetition), eval-shingle
    * decontamination, and the keep-first dedup.
    */
  private val corpusCtes: String =
    s"""$corpusSignalCtes,
      |gate AS (
      |  SELECT doc_id, fingerprint, toks FROM g
      |  WHERE doc_id % 20 <> 0
      |    AND $corpusGateSql),
      |${shingleCte("sh", dupGramK, src = "e", t = "toks")},
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
      |contam AS (
      |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
      |  WHERE s.doc_id % 20 <> 0),
      |dd AS (
      |  SELECT doc_id, toks,
      |         row_number() OVER (PARTITION BY fingerprint
      |                            ORDER BY doc_id ASC) AS rn
      |  FROM gate
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contam))""".stripMargin

  /** The x81/x82 shared oracle chain: [[corpusCtes]] extended by the x79
    * span-removal CTEs over the survivors (`dd1`…`scnt`) and the x78
    * τ=2 source mix (`dom`…`mixed`). x81 appends the packing window; x82
    * reads the stage CTEs back out as funnel counts. ONE definition so
    * the two oracles cannot drift.
    */
  private val corpusV2Ctes: String =
    s"""$corpusCtes,
      |dd1 AS (SELECT doc_id, toks FROM dd WHERE rn = 1),
      |sg AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS gpos,
      |         substr(md5(array_to_string(toks[i:i+${dupGramK - 1}], ' ')), 1, 15) AS gk
      |  FROM dd1, UNNEST(range(1, len(toks) - ${dupGramK - 2})) AS u(i)
      |  WHERE len(toks) >= $dupGramK),
      |sdup AS (SELECT gk FROM sg GROUP BY gk HAVING count(*) >= 2),
      |sds AS (SELECT doc_id, gpos FROM sg JOIN sdup USING (gk)),
      |scov AS (SELECT DISTINCT doc_id, gpos + j AS p
      |         FROM sds, UNNEST(range(0, $dupGramK)) AS v(j)),
      |stok AS (SELECT doc_id, CAST(i AS BIGINT) AS p
      |         FROM dd1, UNNEST(range(1, len(toks) + 1)) AS u(i)),
      |scnt AS (
      |  SELECT tk.doc_id, count(*) AS n_clean FROM stok tk
      |  WHERE NOT EXISTS (SELECT 1 FROM scov
      |                    WHERE scov.doc_id = tk.doc_id AND scov.p = tk.p)
      |  GROUP BY tk.doc_id),
      |dom AS (SELECT s.doc_id, d.source, s.n_clean
      |        FROM scnt s JOIN documents d USING (doc_id)),
      |cn2 AS (SELECT source, count(*) AS n_domain FROM dom GROUP BY source),
      |mn2 AS (SELECT min(n_domain) AS n_min FROM cn2),
      |mixed AS (
      |  SELECT dom.doc_id, dom.n_clean FROM dom
      |  JOIN cn2 USING (source) CROSS JOIN mn2
      |  WHERE (${hashBucketSql("doc_id", tempBuckets)})
      |          * (${hashBucketSql("doc_id", tempBuckets)})
      |          * n_domain < n_min * ${tempBuckets.toLong * tempBuckets})""".stripMargin

  /** `toks`(doc_id, n_tokens): each doc's token count (x37/x43). */
  private val tokenCountsCte: String =
    s"""toks AS (
      |  SELECT doc_id,
      |         len($tokensSql)::BIGINT AS n_tokens
      |  FROM documents)""".stripMargin

  /** The packing window — the twin of `Packing.assignments` — over
    * `src`(doc_id, n_tokens): `a` adds each doc's shard (doc_id mod
    * [[packShards]]) and `start_tok`, the offset of its first token in
    * the shard's token stream (the running sum in doc_id order).
    */
  private def packWindowCte(src: String): String =
    s"""a AS (
      |  SELECT doc_id, n_tokens, doc_id % $packShards AS shard,
      |         (sum(n_tokens) OVER (PARTITION BY doc_id % $packShards ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n_tokens)::BIGINT AS start_tok
      |  FROM $src)""".stripMargin

  /** [[packWindowCte]], then one row per packed sequence of `budget`
    * tokens — the twin of `Packing.packSequences`.
    */
  private def packSequencesSql(src: String, budget: Int): String =
    s"""${packWindowCte(src)}
      |SELECT shard, (start_tok // $budget)::BIGINT AS seq_id,
      |       count(*) AS n_docs, sum(n_tokens)::BIGINT AS seq_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM a GROUP BY 1, 2""".stripMargin

  /** x75's oracle: the BPE training loop unrolled into a CTE chain —
    * s0 is the char-segmented word-frequency table; each round k adds
    * pk (pair counts), mk (the argmax merge, same cnt/lft/rgt
    * tiebreak as the Spark side) and sk (the greedy re-segmentation
    * via list_reduce over singleton lists — DuckDB's accumulator must
    * share the element type, and `acc[0]` is NULL on the empty
    * accumulator, mirroring Spark's null-safe `get`). sk is a LEFT
    * JOIN on the 0-or-1-row mk with a NULL-lft fallback to the
    * PREVIOUS segmentation: when the corpus exhausts its pair supply
    * before `merges` rounds, the Spark loop breaks and keeps the last
    * vocabulary — a comma-join `FROM s{k-1}, mk` would instead empty
    * every later sk and zero the x76 segment oracle (round-9 ADVICE).
    */
  private def bpeChain(merges: Int): String = {
    val rounds = (1 to merges).map { k =>
      s"""p$k AS (SELECT u.p[1] AS lft, u.p[2] AS rgt,
        |        CAST(sum(freq) AS BIGINT) AS cnt
        |      FROM s${k - 1}, UNNEST(list_transform(range(1, len(syms)),
        |        i -> [syms[CAST(i AS INT)], syms[CAST(i AS INT) + 1]])) AS u(p)
        |      GROUP BY 1, 2),
        |m$k AS (SELECT lft, rgt, cnt FROM p$k
        |      ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1),
        |s$k AS (SELECT w, freq,
        |        CASE WHEN m.lft IS NULL THEN syms ELSE list_reduce(
        |          list_prepend(CAST([] AS VARCHAR[]),
        |            list_transform(syms, s -> [s])),
        |          (acc, x) -> CASE WHEN acc[len(acc)] = m.lft AND x[1] = m.rgt
        |            THEN list_append(acc[1:len(acc)-1], m.lft || m.rgt)
        |            ELSE list_concat(acc, x) END) END AS syms
        |      FROM s${k - 1} LEFT JOIN m$k m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${tokensCte(t = "tk")},
      |v AS (SELECT u.w AS w, count(*)::BIGINT AS freq
      |      FROM toks, UNNEST(tk) AS u(w) GROUP BY 1),
      |s0 AS (SELECT w, freq, string_split(w, '') AS syms FROM v),
      |$rounds""".stripMargin
  }

  private def bpeTrainOracle(merges: Int): String = {
    val union = (1 to merges)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, lft, rgt, cnt FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""${bpeChain(merges)}
      |$union""".stripMargin
  }

  /** x76's oracle: the x75 chain's FINAL vocabulary segmentation,
    * joined back to the per-doc word explode.
    */
  private def bpeSegmentOracle(merges: Int): String =
    s"""${bpeChain(merges)}
      |SELECT e.doc_id, count(*)::BIGINT AS n_words,
      |       CAST(sum(len(s.syms)) AS BIGINT) AS n_bpe_tokens
      |FROM (SELECT doc_id, u.w AS w FROM toks, UNNEST(tk) AS u(w)) e
      |JOIN s$merges s USING (w)
      |GROUP BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    // ---- north-star extensions: multimodal plumbing ----
    Entry("x13_multimodal_meta", (s, d) =>
      Multimodal.decodeMeta(s, Multimodal.withPayload(docs(s, d), "doc_id", "text")).toDF(), Sql(
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
        |       CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS fake_height,
        |       CASE WHEN octet_length(encode(text)) % 2 = 0
        |            THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents""".stripMargin)),

    // binary → fake-embed → cosine top-k: the multimodal retrieval path
    // end-to-end (decode stubbed; Spark plumbing real). The fake embed
    // is exact-integer arithmetic, so the ORACLE re-derives the vectors
    // byte-for-byte (round 5 — was rows-only). The embedded frame is cached: the
    // broadcast query side and the corpus side of cosineTopK both read
    // it, and uncached each re-runs the mapPartitions embed of the whole
    // corpus (measured 0.73s → 3.13s). It is filled once before the
    // top-k plan scans it twice (Similarity.filledPin). Lifecycle:
    // harness-owned (Bench/Verify clearCache between queries).
    // Oracle:
    // multimodal retrieval: DuckDB re-derives Multimodal.fakeEmbed
    // byte-for-byte — v[i%16] += byte·(1+(i/16)%3) accumulates EXACT
    // integers (≤ a few 10⁵, far inside float32's 2^24 exact range, so
    // Spark's sequential float adds are order-independent and equal the
    // integer sum), the double norm and float division are IEEE-
    // deterministic from exact inputs, and the ASCII fixture invariant
    // (FixtureInvariantSpec) makes ord(char) = payload byte. The cosine
    // + round(6) cross-engine parity is the proven x05 pattern.
    Entry("x17_multimodal_topk", (s, d) => {
      val emb = Similarity.filledPin(Multimodal.fakeEmbed(s,
        Multimodal.withPayload(docs(s, d), "doc_id", "text"),
        dim = fakeEmbedDim).toDF())
      Similarity.cosineTopK(emb, "doc_id", "embedding",
        fixedCountPred(docs(s, d), "doc_id", mmQueryTarget), k = mmTopK)
    }, Sql(
      s"""WITH b AS (
        |  SELECT doc_id, i, ord(substr(text, CAST(i + 1 AS INT), 1)) AS byte
        |  FROM documents, UNNEST(range(length(text))) AS u(i)),
        |acc AS (
        |  SELECT doc_id, i % $fakeEmbedDim AS d,
        |         sum(byte * (1 + ((i // $fakeEmbedDim) % 3))) AS s
        |  FROM b GROUP BY 1, 2),
        |vec AS (SELECT doc_id, list(s ORDER BY d) AS v FROM acc GROUP BY doc_id),
        |nrm AS (
        |  SELECT doc_id,
        |    list_transform(v, x -> CAST(x / greatest(
        |      sqrt(list_sum(list_transform(v, y -> CAST(y * y AS DOUBLE)))),
        |      1e-9) AS FLOAT)) AS emb
        |  FROM vec),
        |q AS (SELECT doc_id AS qid, emb AS qemb FROM nrm
        |      WHERE ${fixedCountPredSql("documents", "doc_id", mmQueryTarget)}),
        |s AS (
        |  SELECT q.qid, n.doc_id AS nid,
        |         round(list_cosine_similarity(q.qemb::DOUBLE[], n.emb::DOUBLE[]), 6) AS sim
        |  FROM q, nrm n WHERE n.doc_id <> q.qid),
        |${topKTailSql("s", mmTopK)}""".stripMargin)),

    // resize plumbing: byte-subsample payloads to a budget; the oracle
    // checks the exact output-size arithmetic (ceil-step subsampling)
    Entry("q43_resize_stub", (s, d) => {
      val media = Multimodal.withPayload(docs(s, d), "doc_id", "text")
      val resized = Multimodal.resizeStub(s, media, target = 64).toDF()
      media.select(col("doc_id"), length(col("payload")).cast("long").as("orig_bytes"))
        .join(resized.select(col("doc_id"),
          length(col("payload")).cast("long").as("resized_bytes")), Seq("doc_id"))
    }, Sql(
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
        |       CAST(CASE WHEN octet_length(encode(text)) <= 64
        |                 THEN octet_length(encode(text))
        |                 ELSE (octet_length(encode(text)) - 1)
        |                      // ((octet_length(encode(text)) + 63) // 64) + 1
        |            END AS BIGINT) AS resized_bytes
        |FROM documents""".stripMargin)),
    // frame sampling fan-out: per-doc frame counts (rows-only check)
    Entry("x18_frame_sample", (s, d) =>
      Multimodal.frameSample(s,
          Multimodal.withPayload(docs(s, d), "doc_id", "text")).toDF()
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame_bytes"))).as("total_bytes")), Sql(
      """SELECT doc_id,
        |  CAST(least(4, greatest(1, octet_length(encode(text)) // 8)) AS BIGINT)
        |    AS n_frames,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
        |FROM documents""".stripMargin)),

    // frame-level exact dedup: hash every sampled frame and report the
    // duplicate groups with their keeper — the multimodal twin of exact
    // text dedup (identical frames across videos collapse to one copy).
    // Docs with doc_id % 20 == 3 are re-emitted under id+1000000 as
    // deterministic "re-uploads" so the dup groups are non-vacuous at
    // every sf (the natural corpus has none at sf0.01); the keeper is
    // always the original. Frame slicing is deterministic byte
    // arithmetic over ASCII text, so DuckDB reproduces the md5s exactly.
    // ASCII-ONLY INVARIANT: Spark slices UTF-8 BYTES (frameSample works
    // on the binary payload) while the DuckDB twin slices CHARACTERS
    // (its md5 has no BLOB overload here) — one multi-byte character
    // would silently desynchronize frame boundaries between engines.
    // The invariant holds for the shipped fixtures at every sf and is
    // spec-pinned (FixtureInvariantSpec fails loudly if a future
    // fixture breaks it).
    Entry("x48_frame_dedup", (s, d) => {
      val base = docs(s, d)
      val withReuploads = base.select(col("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") % 20 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val frames = Multimodal.frameSample(s,
        Multimodal.withPayload(withReuploads, "doc_id", "text")).toDF()
      frames.select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("frame_bytes")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("n_copies"),
          min(struct(col("doc_id"), col("frame_idx"))).as("keeper"))
        .filter(col("n_copies") >= 2)
        .select(col("h"), col("n_copies"),
          col("keeper.doc_id").as("keeper_doc"),
          col("keeper.frame_idx").as("keeper_frame"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 3),
        |b AS (
        |  SELECT doc_id, text, length(text) AS n,
        |         least(4, greatest(1, length(text) // 8)) AS fr
        |  FROM d),
        |f AS (
        |  SELECT doc_id, u.i AS frame_idx,
        |         md5(substring(text, (u.i * n // fr)::INT + 1,
        |             ((u.i + 1) * n // fr - u.i * n // fr)::INT)) AS h
        |  FROM b, UNNEST(range(0, fr)) AS u(i))
        |SELECT h, n_copies, doc_id AS keeper_doc, frame_idx AS keeper_frame
        |FROM (
        |  SELECT h, doc_id, frame_idx,
        |         count(*) OVER (PARTITION BY h) AS n_copies,
        |         row_number() OVER (PARTITION BY h
        |                            ORDER BY doc_id, frame_idx) AS rn
        |  FROM f)
        |WHERE rn = 1 AND n_copies >= 2""".stripMargin)),

    // ---- training-data curation additions ----
    // benchmark decontamination: docs with doc_id % 20 == 0 stand in for
    // the eval set; training docs sharing any word 8-gram with it are
    // reported with their shared-gram count (the 13-gram-overlap guard
    // against test-set leakage, n scaled to these shorter fixtures)
    Entry("x36_decontaminate", (s, d) => {
      val all = docs(s, d)
      Decontaminate.report(
        all.filter(col("doc_id") % 20 =!= 0),
        all.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = 8)
    }, Sql(
      s"""WITH ${wordShingleCtes("sh", dupGramK)},
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM tr JOIN ev ON tr.shingle = ev.shingle
        |GROUP BY tr.doc_id
        |HAVING count(*) >= 1""".stripMargin)),
    // eval-side coverage — x36 looked from the train side ("is this
    // train doc contaminated"); this is the fractional report the eval
    // owner reads: per eval doc, what share of its 8-grams the training
    // corpus contains verbatim (seen_frac ≈ 1 = memorization-reachable
    // even after doc-level decontamination)
    // Oracle:
    // x83: x36's shingle CTEs read the other way — per-eval-doc totals
    // and train-set hits, fraction at 4dp, TOTAL over eval docs
    Entry("x83_eval_coverage", (s, d) => {
      val all = docs(s, d)
      Decontaminate.coverage(
        all.filter(col("doc_id") % 20 =!= 0),
        all.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = dupGramK)
    }, Sql(
      s"""WITH ${wordShingleCtes("sh", dupGramK)},
        |tg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 <> 0),
        |ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
        |ht AS (SELECT ev.doc_id, count(*) AS n_seen
        |       FROM ev JOIN tg USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |       coalesce(n_seen, 0) AS n_seen,
        |       round(coalesce(n_seen * 1.0 / n_grams, 0), 4) AS seen_frac
        |FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN ht USING (doc_id)
        |WHERE d.doc_id % 20 = 0""".stripMargin)),
    // bloom-gated decontamination — x36's 100 TB spelling: the eval gram
    // index collapses to a 32 KB broadcast bit array, training grams are
    // screened map-side in the scan stage, and only bloom-hit grams
    // reach the exact-confirm join. Portable md5-base bit positions, so
    // the oracle rebuilds the identical array and replays membership —
    // n_bloom (FPs included) is hash-checked, and n_shared must equal
    // x36's exact count for every flagged doc (no false negatives)
    // Oracle:
    // bloom replay: rebuild the eval-set bit array from the SAME 60-bit
    // md5 bases, splitmix multipliers and 63-bit-word layout, then
    // re-evaluate membership for every training gram — the oracle
    // reproduces the false positives bit-for-bit, so n_bloom is
    // hash-checked; n_shared is x36's exact count via the confirm join
    Entry("x64_bloom_decontaminate", (s, d) => {
      val all = docs(s, d)
      Decontaminate.bloomReport(
        all.filter(col("doc_id") % 20 =!= 0),
        all.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = dupGramK,
        mBits = bloomMBits, bloomK = bloomHashes)
    }, Sql({
      def posSql(j: Int) =
        s"(bb % 1000000007 * ${graft.neardup.Bloom.coef(j)} % 999999937 % $bloomMBits)"
      def bitSql(j: Int) =
        s"(b[CAST(${posSql(j)} // 63 AS INT) + 1]" +
          s" & (1::BIGINT << CAST(${posSql(j)} % 63 AS INT))) <> 0"
      s"""WITH ${wordShingleCtes("sh", dupGramK)},
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
        |evb AS (SELECT ${md5Base60Sql("shingle")} AS bb FROM ev),
        |setb AS (
        |  SELECT p // 63 AS w, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
        |  FROM (${(0 until bloomHashes)
                    .map(j => s"SELECT ${posSql(j)} AS p FROM evb")
                    .mkString(" UNION ALL ")})
        |  GROUP BY 1),
        |blm AS (
        |  SELECT list(coalesce(bits, 0) ORDER BY w) AS b
        |  FROM range(0, ${bloomMBits / 63}) t(w) LEFT JOIN setb USING (w)),
        |tr AS (SELECT doc_id, shingle, ${md5Base60Sql("shingle")} AS bb
        |       FROM sh WHERE doc_id % 20 <> 0),
        |hit AS (
        |  SELECT doc_id, shingle FROM tr, blm
        |  WHERE ${(0 until bloomHashes).map(bitSql).mkString(" AND ")})
        |SELECT h.doc_id, count(*) AS n_bloom, count(ev.shingle) AS n_shared
        |FROM hit h LEFT JOIN ev ON h.shingle = ev.shingle
        |GROUP BY h.doc_id""".stripMargin
    })),
    // SEMANTIC decontamination — the meaning-level third leg of the
    // x36/x64 family: flag training docs inside the cosine epsilon-ball
    // of ANY eval embedding. Benchmark side broadcast whole, training
    // side screened map-side in its scan stage. The eval set is a
    // FIXED-COUNT sample (the x70 discipline), NOT x36/x64's %20
    // fraction: those screens join on shingle KEYS (cost ∝ matches,
    // fraction is fine), but an embedding screen is all-pairs — a
    // corpus-fraction eval made this the catalog's one quadratic entry
    // (measured 1514 s ≈ 1060× at the 100× corpus; fixed-count brings
    // it linear, matching the production truth that eval benchmarks
    // don't grow with the training corpus). Exact-integer cosine (the
    // x20i embeds), so every flagged pair hash-replays
    // Oracle:
    // x69: the byte-sum embed CTEs + one eval-broadcast screen — the
    // cosine/round spelling is x53's epsilon-ball; the eval set is the
    // fixed-count sample twin (same Knuth spread + floor-divided
    // bucket count as the Spark side)
    Entry("x69_semantic_decontaminate", (s, d) => {
      val emb = Multimodal.fakeEmbedInt(s,
        Multimodal.withPayload(docs(s, d), "doc_id", "text"),
        dim = fakeEmbedDim).toDF()
      val evalPred = fixedCountPred(emb, "doc_id", semDecontamEvalTarget)
      Similarity.semanticDecontaminate(
        emb.filter(!evalPred),
        emb.filter(evalPred),
        "doc_id", "embedding", threshold = semDedupThreshold)
    }, Sql(
      s"""WITH $intEmbedVecCtes,
        |tr AS (SELECT doc_id, v FROM vec
        |       WHERE NOT ${fixedCountPredSql("documents", "doc_id", semDecontamEvalTarget)}),
        |ev AS (SELECT v FROM vec
        |       WHERE ${fixedCountPredSql("documents", "doc_id", semDecontamEvalTarget)}),
        |hits AS (
        |  SELECT tr.doc_id, round(${intCosSql("tr.v", "ev.v")}, 6) AS sim
        |  FROM tr, ev)
        |SELECT doc_id, count(*) AS n_close, max(sim) AS max_sim
        |FROM hits WHERE sim >= $semDedupThreshold
        |GROUP BY doc_id""".stripMargin)),
    // token-budget selection: fill each domain's training budget with
    // its best docs (quality-ranked prefix walk over cumulative token
    // mass) — the mass-based counterpart of x55's count cap; one
    // domain-keyed exchange, integer-exact throughout
    // Oracle:
    // x71: same tokenization CTE, per-domain ordered prefix sum — the
    // window frame is spelled identically on both sides
    Entry("x71_token_budget_select", (s, d) =>
      Sampling.tokenBudgetSelect(docs(s, d), "doc_id", "text", "source",
        budget = tokenBudget), Sql(
      s"""WITH ${tokensCte(t = "tk", keys = "doc_id, source")},
        |b AS (SELECT doc_id, source, len(tk)::BIGINT AS n_tokens,
        |             len(list_distinct(tk))::BIGINT AS q
        |      FROM toks),
        |c AS (SELECT doc_id, source, n_tokens, q,
        |        CAST(sum(n_tokens) OVER (PARTITION BY source
        |               ORDER BY q DESC, doc_id ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS cum_tokens
        |      FROM b)
        |SELECT doc_id, source, n_tokens, q, cum_tokens,
        |       cum_tokens <= $tokenBudget AS kept
        |FROM c""".stripMargin)),
    // BPE pair counting (tokenizer-training step 1): corpus pays one
    // token explode into a word-frequency table; pair extraction runs
    // over the VOCABULARY weighted by freq — the standard BPE-trainer
    // trick, integer-exact, rank-replayed by the oracle
    // Oracle:
    // x72: word-frequency table, vocabulary-sized pair explode
    // (range(1, len) is end-exclusive = the Spark guard's 1..len-1),
    // exact-integer counts, post-agg global rank
    Entry("x72_bpe_pair_counts", (s, d) =>
      TextAnalysis.bpePairCounts(docs(s, d), "doc_id", "text",
        topN = bpeTopN), Sql(
      s"""WITH ${tokensCte(t = "tk")},
        |w AS (SELECT u.w AS w, count(*) AS freq
        |      FROM toks, UNNEST(tk) AS u(w) GROUP BY 1),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |      FROM w, UNNEST(range(1, length(w))) AS r(i)),
        |a AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |      FROM p GROUP BY pair),
        |r AS (SELECT pair, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rnk
        |      FROM a)
        |SELECT pair, cnt, rnk FROM r WHERE rnk <= $bpeTopN""".stripMargin)),
    // DSIR importance selection (Xie et al. 2023): hashed unigram+bigram
    // model of target (lang='en') vs raw, integer micro-prob weights,
    // top-k most-target-like docs; the weight table is BUCKET-bounded
    // (broadcast stays free at any corpus size)
    // Oracle:
    // x73: x12's rolling token hash feeds hashed unigram+bigram buckets
    // (DuckDB lists are 1-based; range(1, len) is end-exclusive = the
    // Spark guard's 1..len-1, and is empty for 1-token docs so no CASE
    // is needed), then Laplace micro-prob weights and the per-doc sum —
    // every integer step spelled identically on both sides
    Entry("x73_dsir_select", (s, d) =>
      Dsir.dsirSelect(docs(s, d), "doc_id", "text",
        targetPred = col("lang") === "en",
        buckets = dsirBuckets, k = dsirK), Sql(
      s"""WITH t AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |         $tokensSql AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, is_t,
        |        list_transform(toks, tok ->
        |          list_reduce(
        |            list_prepend(CAST(7 AS BIGINT),
        |              list_transform(string_split(tok, ''),
        |                             c -> CAST(ascii(c) AS BIGINT))),
        |            (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |      FROM t),
        |f AS (SELECT doc_id, is_t, u.b AS b
        |      FROM h, UNNEST(list_concat(
        |        list_transform(th, x -> x % $dsirBuckets),
        |        list_transform(range(1, len(th)),
        |          i -> ((th[CAST(i AS INT)] * 131 + th[CAST(i AS INT) + 1])
        |                % 1000000007) % $dsirBuckets))) AS u(b)),
        |c AS (SELECT b, count(*)::BIGINT AS c_r,
        |             sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS c_t
        |      FROM f GROUP BY 1),
        |w AS (SELECT b,
        |        (c_t + 1) * 1000000 // (n.n_t + $dsirBuckets) -
        |        (c_r + 1) * 1000000 // (n.n_r + $dsirBuckets) AS w_micro
        |      FROM c, (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM c) n),
        |s AS (SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS score_micro
        |      FROM f JOIN w USING (b) GROUP BY 1),
        |top AS (SELECT doc_id, score_micro FROM s
        |        ORDER BY score_micro DESC, doc_id ASC LIMIT $dsirK)
        |SELECT doc_id, score_micro,
        |       CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
        |            AS BIGINT) AS rnk
        |FROM top""".stripMargin)),
    // CCNet-style LM triage (Wenzek et al. 2020): unigram target-LM
    // score in exact micro-probs, corpus split head/middle/tail at the
    // exact score tertiles (the q01 percentile-bounds pattern)
    // Oracle:
    // x74: unigram LM in exact micro-probs (Laplace-smoothed, OOV =
    // unseen mass), integer mean per doc; only the tertile thresholds
    // interpolate, via the q01-proven percentile_cont pairing, with the
    // fraction doubles interpolated identically on both sides
    Entry("x74_ccnet_buckets", (s, d) =>
      CcNet.ccnetBuckets(docs(s, d), "doc_id", "text",
        targetPred = col("lang") === "en"), Sql(
      s"""WITH t AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |         $tokensSql AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, is_t, u.term AS term
        |      FROM t, UNNEST(toks) AS u(term)),
        |tc AS (SELECT term, count(*)::BIGINT AS c_t FROM e WHERE is_t GROUP BY 1),
        |n AS (SELECT CAST(sum(c_t) + count(*) AS BIGINT) AS d_t FROM tc),
        |lm AS (SELECT term, (c_t + 1) * 1000000 // n.d_t AS p_micro FROM tc, n),
        |s AS (SELECT e.doc_id,
        |        CAST(sum(coalesce(lm.p_micro, 1000000 // n.d_t)) // count(*)
        |             AS BIGINT) AS score_micro
        |      FROM e LEFT JOIN lm USING (term), n
        |      GROUP BY 1),
        |th AS (SELECT percentile_cont(${1.0 / 3}) WITHIN GROUP (ORDER BY score_micro) AS t1,
        |              percentile_cont(${2.0 / 3}) WITHIN GROUP (ORDER BY score_micro) AS t2
        |       FROM s)
        |SELECT doc_id, score_micro,
        |       CASE WHEN score_micro > t2 THEN 'head'
        |            WHEN score_micro > t1 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM s, th""".stripMargin)),
    // BPE tokenizer TRAINING (x72's full merge loop): k rounds of
    // argmax-pair + greedy re-segmentation, all on the vocabulary
    // frame; the oracle re-learns the identical merge sequence from
    // an unrolled CTE chain
    Entry("x75_bpe_train", (s, d) =>
      TextAnalysis.bpeTrain(docs(s, d), "doc_id", "text",
        merges = bpeMerges), Sql(bpeTrainOracle(bpeMerges))),
    // BPE APPLICATION: segment the corpus with the trained tokenizer —
    // the corpus explodes once and looks its words' segmentations up
    // in the broadcast (already-segmented) vocabulary
    Entry("x76_bpe_segment", (s, d) =>
      TextAnalysis.bpeSegment(docs(s, d), "doc_id", "text",
        merges = bpeMerges), Sql(bpeSegmentOracle(bpeMerges))),
    // sequence packing: concatenate docs into 512-token training
    // sequences, packed independently per shard (doc_id % 8) — the
    // shard-local window is the only shuffle, and shard count is the
    // scale-out knob
    Entry("x37_pack_sequences", (s, d) =>
      Packing.packSequences(docs(s, d), "doc_id", "text",
        budget = packBudget, shards = packShards), Sql(
      s"""WITH $tokenCountsCte,
        |${packSequencesSql("toks", packBudget)}""".stripMargin)),
    // shuffle-shard export: every doc gets a reproducible pseudo-random
    // (shard, position) — the loader-facing global shuffle, one shard
    // shuffle + per-shard sort (see ops.Sharding); portable Knuth
    // arithmetic so the oracle replays the exact layout
    // Oracle:
    // full shard-layout replay: same Knuth spread key, same shard mod,
    // same (key, id) within-shard order — the export is deterministic
    // down to every row's position, and the oracle proves it
    Entry("x54_shuffle_shard", (s, d) =>
      Sharding.shuffleShard(docs(s, d), "doc_id", nShards = exportShards), Sql(
      s"""WITH k AS (
        |  SELECT doc_id,
        |         ${hashBucketSql("doc_id", Sharding.spreadBuckets)} AS k
        |  FROM documents)
        |SELECT doc_id, CAST(k % $exportShards AS INT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY k % $exportShards
        |                               ORDER BY k ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM k""".stripMargin)),
    // PII scrub: deterministic synthetic PII (email / IPv4 / phone built
    // from doc_id) is appended to each doc, then detected and redacted;
    // the md5 of the redacted text proves the replacement byte-for-byte
    // against the oracle's RE2 twin
    Entry("x38_pii_redact", (s, d) =>
      Pii.redact(docsWithPii(s, d), "doc_id", "text"), Sql(
      s"""WITH p AS (
        |  SELECT doc_id,
        |         $piiTextSql AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '${Pii.emailRe}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '${Pii.ipRe}'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(t, '${Pii.phoneRe}'))::BIGINT AS n_phones,
        |  md5(${redactSql("t")}) AS clean_md5
        |FROM p""".stripMargin)),
    // within-doc repetition: duplicate word-2-gram fraction, the
    // boilerplate/copy-loop quality signal
    Entry("x39_repetition", (s, d) =>
      TextAnalysis.repetition(docs(s, d), "doc_id", "text",
        n = TextAnalysis.repetitionN,
        threshold = TextAnalysis.repetitionThreshold), Sql(
      s"""WITH ${tokensCte()},
        |g AS (
        |  SELECT doc_id,
        |         ${wordGramsSql("t", TextAnalysis.repetitionN)} AS grams
        |  FROM toks)
        |SELECT doc_id, len(grams)::BIGINT AS n_grams,
        |  len(list_distinct(grams))::BIGINT AS n_distinct,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE ${repRatioSql("grams")}
        |  END AS rep_ratio,
        |  CASE WHEN len(grams) = 0 THEN FALSE
        |    ELSE ${repRatioSql("grams")} >= ${TextAnalysis.repetitionThreshold}
        |  END AS repetitive
        |FROM g""".stripMargin)),
    // quality gate for the multimodal top-k (x17, the one remaining
    // ungated rows-only path): x17 is EXACT brute force over the fake
    // embeds, so the engine-dependent surface is the float32 embed
    // values and the top-k mechanics — gate those with in-plan
    // invariants (unit-norm embeddings, exactly k rows per query,
    // rank-monotone sims, cosine within [-1, 1]), literal-TRUE oracle;
    // n_queries is cross-engine-counted. All aggregates coalesce to
    // vacuous TRUE on empty input (null compares, no division)
    Entry("x40_multimodal_gate", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Similarity.filledPin(Multimodal.fakeEmbed(s,
        Multimodal.withPayload(docs(s, d), "doc_id", "text")).toDF())
      val dot = expr("aggregate(zip_with(embedding, embedding, " +
        "(a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)")
      val normOk = emb.agg(
        coalesce(max(abs(dot - 1.0)) < 1e-3, lit(true)).as("norm_ok"))
      // fixed-count query sample over the DOCS table (~50 at any sf):
      // keeps this gate's brute-force pass linear in corpus size
      val qp = fixedCountPred(docs(s, d), "doc_id", mmQueryTarget)
      val topk = Similarity.cosineTopK(emb, "doc_id", "embedding",
        qp, k = mmTopK)
      val w = Window.partitionBy("qid").orderBy("rnk")
      val per = topk.withColumn("prev_sim", lag("sim", 1).over(w))
        .groupBy("qid").agg(count(lit(1)).as("cnt"),
          min("sim").as("min_sim"), max("sim").as("max_sim"),
          max(when(col("prev_sim").isNotNull &&
            col("sim") > col("prev_sim"), 1).otherwise(0)).as("ooo"))
      val gates = per.agg(
        coalesce(min("cnt") === mmTopK && max("cnt") === mmTopK, lit(true)).as("shape_ok"),
        coalesce(max("ooo") === 0, lit(true)).as("order_ok"),
        coalesce(min("min_sim") >= -1.000001 &&
          max("max_sim") <= 1.000001, lit(true)).as("bounds_ok"))
      val nq = emb.filter(qp).agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(gates).crossJoin(normOk)
        .select("n_queries", "shape_ok", "norm_ok", "order_ok", "bounds_ok")
    }, Sql(
      s"""SELECT count(*) AS n_queries, TRUE AS shape_ok, TRUE AS norm_ok,
         |       TRUE AS order_ok, TRUE AS bounds_ok
         |FROM documents
         |WHERE ${fixedCountPredSql("documents", "doc_id", mmQueryTarget)}""".stripMargin)),
    // the flagship composition: the WHOLE training-data build in one
    // query — PII-redact → quality/lang/repetition gates → benchmark
    // decontamination (docs with doc_id % 20 == 0 stand in for the eval
    // set) → fingerprint dedup → 256-token sequence packing. The
    // injected PII suffixes are unique per doc BEFORE redaction and
    // identical after it, so the dedup and decontamination results are
    // only correct if the redaction stage actually ran — the stages are
    // semantically entangled, not just concatenated
    // Oracle:
    // the full corpus build: every stage's DuckDB twin composed in CTE
    // order (redact → signals → gates → decontaminate → dedup → pack),
    // byte-exact because each piece is the already-proven x38/x26/x39/
    // x36/x37 oracle dialect
    Entry("x41_corpus_build", (s, d) => {
      val withPii = docsWithPii(s, d)
      Curation.buildCorpus(
        withPii.filter(col("doc_id") % 20 =!= 0),
        withPii.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", budget = corpusPackBudget, shards = packShards)
    }, Sql(
      s"""WITH $corpusCtes,
        |tk AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM dd WHERE rn = 1),
        |${packSequencesSql("tk", corpusPackBudget)}""".stripMargin)),
    // corpus build v2: x41's stages + the two post-dedup passes the
    // round-9 operators add — duplicated-span removal (exact dedup only
    // catches whole-doc twins; shared spans survive it) and τ=2
    // temperature mixing over source — ending in the same packed layout.
    // The composed pipeline is oracle-replayed stage for stage
    // Oracle:
    // x81: x41's chain through the fingerprint dedup (dd), then the x79
    // span-removal CTEs over the survivors, the x78 τ=2 mix over
    // source, and the same packing window over the span-cleaned counts.
    // The chain itself is [[corpusV2Ctes]], shared with the x82 funnel
    Entry("x81_corpus_build_v2", (s, d) => {
      val withPii = docs(s, d).select(col("doc_id"), piiText, col("source"))
      Curation.buildCorpusV2(
        withPii.filter(col("doc_id") % 20 =!= 0),
        withPii.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", "source",
        spanK = dupGramK, tau = tempTau, mixBuckets = tempBuckets,
        budget = corpusPackBudget, shards = packShards)
    }, Sql(
      s"""WITH $corpusV2Ctes,
        |tk AS (SELECT doc_id, n_clean AS n_tokens FROM mixed),
        |${packSequencesSql("tk", corpusPackBudget)}""".stripMargin)),
    // the "where did my corpus go" attrition funnel over x81's stages:
    // one row per stage, surviving docs + drop vs previous — the
    // observability report a production build publishes with its output
    // Oracle:
    // x82: the same chain, read out as per-stage surviving-doc counts
    // with the drop vs the previous stage (8-row lag window)
    Entry("x82_curation_funnel", (s, d) => {
      val withPii = docs(s, d).select(col("doc_id"), piiText, col("source"))
      // nDocs routes the funnel spelling (round 18): below the measured
      // one-job scratch budget the counts fuse into one job over primed
      // caches; above it the per-stage sequential spelling (proven at
      // v2-5M with bounded scratch) keeps running. Output identical.
      Curation.curationFunnel(
        withPii.filter(col("doc_id") % 20 =!= 0),
        withPii.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", "source",
        spanK = dupGramK, tau = tempTau, mixBuckets = tempBuckets,
        nDocs = Some(docsCount(s, d)))
    }, Sql(
      s"""WITH $corpusV2Ctes,
        |counts AS (
        |  SELECT 1 AS stage_id, 'input' AS stage,
        |         (SELECT count(*) FROM documents WHERE doc_id % 20 <> 0) AS n_docs
        |  UNION ALL SELECT 2, 'quality_gate',
        |    (SELECT count(*) FROM g
        |     WHERE doc_id % 20 <> 0 AND quality_bucket = 'ok')
        |  UNION ALL SELECT 3, 'language_gate',
        |    (SELECT count(*) FROM g
        |     WHERE doc_id % 20 <> 0 AND quality_bucket = 'ok'
        |       AND $predLangSql = 'en')
        |  UNION ALL SELECT 4, 'repetition_gate', (SELECT count(*) FROM gate)
        |  UNION ALL SELECT 5, 'decontaminated', (SELECT count(*) FROM dd)
        |  UNION ALL SELECT 6, 'exact_dedup',
        |    (SELECT count(*) FROM dd WHERE rn = 1)
        |  UNION ALL SELECT 7, 'span_dedup', (SELECT count(*) FROM scnt)
        |  UNION ALL SELECT 8, 'temperature_mix', (SELECT count(*) FROM mixed))
        |SELECT stage_id::BIGINT AS stage_id, stage, n_docs::BIGINT AS n_docs,
        |       coalesce(lag(n_docs) OVER (ORDER BY stage_id) - n_docs, 0)::BIGINT
        |         AS n_dropped
        |FROM counts""".stripMargin)),
    // bootstrap quality classifier: rule-label → bag-of-words affinity
    // weights → score every doc (the distill-a-heuristic pattern);
    // integer-exact arithmetic end to end, per-doc scores hash-checked
    Entry("x50_quality_classifier", (s, d) =>
      TextAnalysis.qualityClassifier(docs(s, d), "doc_id", "text"), Sql(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    $tokensSql AS toks,
        |    length(text) AS n_chars,
        |    $punctCountSql AS n_punct
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id, toks,
        |    (${qualityBucketSql("len(toks)")}) = 'ok' AS is_ok
        |  FROM t),
        |terms AS (
        |  SELECT doc_id, is_ok, u.term FROM lab, UNNEST(toks) AS u(term)),
        |w AS (
        |  SELECT term,
        |         (sum(CASE WHEN is_ok THEN 1 ELSE 0 END)::BIGINT + 1) * 1000000
        |           // (count(*)::BIGINT + 2) - 500000 AS w_micro
        |  FROM terms GROUP BY term)
        |SELECT terms.doc_id, sum(w.w_micro)::BIGINT AS score_micro,
        |       sum(w.w_micro) >= 0 AS pred_ok
        |FROM terms JOIN w USING (term)
        |GROUP BY terms.doc_id""".stripMargin)),
    // the curation dashboard: per-(source × quality × language) doc and
    // token totals with all cube rollups, from ONE corpus pass — the
    // monitoring query a corpus build publishes after every refresh.
    // min/max/sum are integer-exact (no float-average tie hazards)
    Entry("x46_corpus_stats", (s, d) =>
      docs(s, d).select(col("source"),
          TextAnalysis.qualityBucketCol(col("text")).as("quality_bucket"),
          TextAnalysis.predLangCol(col("text")).as("pred_lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .cube("source", "quality_bucket", "pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens")), Sql(
      s"""WITH s AS (
        |  SELECT source,
        |    ${qualityBucketSql("len(toks)")} AS quality_bucket,
        |    $predLangSql AS pred_lang,
        |    len(toks)::BIGINT AS n_tokens
        |  FROM (
        |    SELECT source, toks,
        |      ${langHitsSql("toks")},
        |      n_chars, n_punct
        |    FROM (
        |      SELECT source,
        |        $tokensSql AS toks,
        |        length(text) AS n_chars,
        |        $punctCountSql AS n_punct
        |      FROM documents)))
        |SELECT source, quality_bucket, pred_lang, count(*) AS n_docs,
        |       sum(n_tokens)::BIGINT AS total_tokens,
        |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM s GROUP BY CUBE (source, quality_bucket, pred_lang)""".stripMargin)),
    // token-mass domain mixing: rebalance weighted by token counts
    // instead of doc counts — the actual training-mixture contract (a
    // domain of few huge docs is as heavy as one of many small docs);
    // per-source total vs kept token mass, deterministic keep set
    Entry("x45_token_mix", (s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val kept = Sampling.rebalanceBy(toks, "source", "doc_id",
          col("n_tokens"))
        .groupBy("source").agg(sum("n_tokens").as("kept_tokens"))
      toks.groupBy("source").agg(sum("n_tokens").as("total_tokens"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("total_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    }, Sql(
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         len($tokensSql)::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, sum(n_tokens)::BIGINT AS m FROM t GROUP BY source),
        |mt AS (SELECT min(m) AS m_target FROM c),
        |k AS (
        |  SELECT t.source, sum(t.n_tokens)::BIGINT AS kept_tokens
        |  FROM t JOIN c ON t.source = c.source CROSS JOIN mt
        |  WHERE ${hashBucketSql("t.doc_id", 100)}
        |          * c.m < mt.m_target * 100
        |  GROUP BY t.source)
        |SELECT c.source, c.m AS total_tokens,
        |       coalesce(k.kept_tokens, 0) AS kept_tokens
        |FROM c LEFT JOIN k USING (source)""".stripMargin)),
    // incremental curation: the daily corpus-refresh job — docs below
    // the cutoff (doc_id % 10 < 8) are the already-curated table, the
    // rest is today's increment; the increment is curated independently
    // and admitted only if its fingerprint is genuinely new
    // (insertIfAbsent on the dedup key), the reference's K3 pattern
    // applied to the curation surface. In production the "old" side is
    // read back from storage, not recomputed — here both sides derive
    // from the same table so the oracle can replay the whole job; the
    // old curated frame is cached because union AND anti-join existing
    // both consume it (harness-released, see README cache contract)
    Entry("x44_incremental_curation", (s, d) => {
      val all = docs(s, d)
      val old = Curation.curate(all.filter(col("doc_id") % 10 < 8),
        "doc_id", "text", keepPer100 = 100).cache()
      val fresh = Curation.curate(all.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", keepPer100 = 100)
      val admitted = Dedup.insertIfAbsent(fresh, old, Seq("fingerprint"))
      old.withColumn("is_new", lit(false))
        .unionByName(admitted.withColumn("is_new", lit(true)))
    }, Sql(
      s"""WITH $curateCtes,
        |l AS (
        |  SELECT doc_id, fingerprint,
        |    $predLangSql AS pred_lang
        |  FROM g WHERE quality_bucket = 'ok'),
        |gated AS (SELECT * FROM l WHERE pred_lang = 'en'),
        |old AS (
        |  SELECT doc_id, fingerprint, pred_lang,
        |         row_number() OVER (PARTITION BY fingerprint
        |                            ORDER BY doc_id ASC) AS rn
        |  FROM gated WHERE doc_id % 10 < 8),
        |fresh AS (
        |  SELECT doc_id, fingerprint, pred_lang,
        |         row_number() OVER (PARTITION BY fingerprint
        |                            ORDER BY doc_id ASC) AS rn
        |  FROM gated WHERE doc_id % 10 >= 8)
        |SELECT doc_id, fingerprint, pred_lang, FALSE AS is_new
        |FROM old WHERE rn = 1
        |UNION ALL
        |SELECT n.doc_id, n.fingerprint, n.pred_lang, TRUE AS is_new
        |FROM fresh n WHERE rn = 1
        |  AND NOT EXISTS (SELECT 1 FROM old o
        |                  WHERE o.fingerprint = n.fingerprint)""".stripMargin)),
    // split-packing inventory: the faithful GPT packing where documents
    // split across sequence boundaries — every 512-token cut of the
    // shard stream is a sequence, docs contribute spans to every
    // sequence they overlap, and all seq_tokens are exactly 512 except
    // each shard's trailing partial (the oracle checks the exact values)
    Entry("x43_pack_spans", (s, d) =>
      Packing.packSpans(docs(s, d), "doc_id", "text",
        budget = packBudget, shards = packShards), Sql(
      s"""WITH $tokenCountsCte,
        |${packWindowCte("toks")},
        |sp AS (
        |  SELECT shard, doc_id, start_tok, start_tok + n_tokens AS end_tok,
        |         u.seq_id
        |  FROM a, UNNEST(range(start_tok // $packBudget,
        |                       (start_tok + n_tokens - 1) // $packBudget + 1)) AS u(seq_id)
        |  WHERE n_tokens > 0)
        |SELECT shard, seq_id, count(*) AS n_docs,
        |       sum(least(end_tok, (seq_id + 1) * $packBudget)
        |           - greatest(start_tok, seq_id * $packBudget))::BIGINT AS seq_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM sp GROUP BY 1, 2""".stripMargin)),
    // domain-mixture rebalancing: downsample every source to the
    // smallest source's size with data-derived rates — per-source
    // before/after counts prove the mixture came out uniform-ish and
    // the kept SET is pinned by the deterministic hash arithmetic
    Entry("x42_domain_mix", (s, d) => {
      val kept = Sampling.rebalance(docs(s, d), "source", "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      docs(s, d).groupBy("source").agg(count(lit(1)).as("n_before"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }, Sql(
      s"""WITH c AS (
        |  SELECT source, count(*) AS n_before FROM documents GROUP BY source),
        |t AS (SELECT min(n_before) AS n_target FROM c),
        |k AS (
        |  SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN c ON d.source = c.source CROSS JOIN t
        |  WHERE ${hashBucketSql("d.doc_id", 100)}
        |          * c.n_before < t.n_target * 100
        |  GROUP BY d.source)
        |SELECT c.source, c.n_before, coalesce(k.n_kept, 0) AS n_kept
        |FROM c LEFT JOIN k USING (source)""".stripMargin)),
    // per-domain cap (FineWeb/Gopher "max K docs per host"): keep the
    // K token-richest docs per source, id-tiebroken — the hard-cap
    // counterpart of x42's proportional rebalance. Integer-exact score
    // (token count), so the oracle replays the full kept set
    // Oracle:
    // full kept-set replay of the per-domain cap: same integer token
    // score, same (score DESC, id ASC) rank, same K
    Entry("x55_domain_cap", (s, d) =>
      Sampling.domainCap(docs(s, d), "doc_id", "source",
        size(TextAnalysis.tokens(col("text"))).cast("long"),
        k = domainCapK), Sql(
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         len($tokensSql)::BIGINT AS score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, score,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
        |  FROM t)
        |SELECT doc_id, source, score, rnk FROM r WHERE rnk <= $domainCapK""".stripMargin)),
    // temperature-scaled mixing (τ=2, the XLM/mT5 α=0.5 exponent) over
    // LANGUAGES — the literal multilingual-sampling use case, and the
    // one naturally-skewed domain facet in the fixtures (en dominates):
    // every lang keeps rate √(n_min/n_d) via the integer predicate
    // h²·n_d < n_min·B² — x42's uniform rebalance and the natural
    // distribution are the τ=1 / τ→∞ ends of the same knob. The full
    // kept SET is the output, pinned by the hash arithmetic
    // Oracle:
    // x78: same hashBucket spelling as x42 at B=$tempBuckets, squared —
    // h²·n_d < n_min·B² replays the √(n_min/n_d) keep rate in BIGINTs
    Entry("x78_temperature_mix", (s, d) =>
      Sampling.temperatureSample(docs(s, d), "lang", "doc_id",
        tau = tempTau, buckets = tempBuckets)
        .select("doc_id", "lang"), Sql(
      s"""WITH cn AS (
        |  SELECT lang, count(*) AS n_domain FROM documents GROUP BY lang),
        |mn AS (SELECT min(n_domain) AS n_min FROM cn),
        |h AS (
        |  SELECT d.doc_id, d.lang, cn.n_domain, mn.n_min,
        |         ${hashBucketSql("d.doc_id", tempBuckets)} AS hb
        |  FROM documents d JOIN cn USING (lang) CROSS JOIN mn)
        |SELECT doc_id, lang FROM h
        |WHERE hb * hb * n_domain < n_min * ${tempBuckets.toLong * tempBuckets}""".stripMargin))
  )
}
