package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pipelines.{Curation, Ecommerce, Iot, PetsNutrition}
import graft.sources.{Fixtures, Sources}
import graft.text.{Bm25Route, CcNet, Dsir, Pii, Retrieval, TextAnalysis}
import graft.neardup.{Decontaminate, NearDup, ParaDedup, SpanDedup}
import graft.sim.{CellShape, Similarity}
import graft.multimodal.Multimodal

/** Driver contract — named query catalog + DuckDB oracle SQL.
  *
  * Every `queries` entry is one operator family from SURVEY.md §2 (or a
  * north-star extension from BASELINE.json) expressed Spark-first; the
  * matching `oracleSql` is the ANSI equivalent DuckDB runs on the same
  * parquet tables. Column names and types are aligned on both sides
  * (aliased identically; counts as BIGINT, ratios rounded the same way)
  * because the driver hash-compares values per sorted column name.
  *
  * Queries with no ANSI equivalent get no oracle entry (driver records
  * the weaker rows-only check) — after the round-5 portable-hash work
  * the only one left is x20's k-means (float-sum order); everything
  * else, including the LSH/minhash/simhash candidate sets and one
  * driver-observable STREAMING query (x51), is hash-compared.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Iot.flagship(spark, "/root/testdata/sf0.001")

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** The integer fake embeds of the corpus (x20i and the cell-model
    * family), cached: every integer-IVF model reads them several times
    * before its checkpoint pins the assignment.
    */
  private def intEmbeds(s: SparkSession, d: String): DataFrame =
    Multimodal.fakeEmbedInt(s,
      Multimodal.withPayload(docs(s, d), "doc_id", "text"),
      dim = fakeEmbedDim).toDF().cache()

  /** x63/x65's kNN-graph shape: the constant-cluster-size two-level
    * rule at [[knnHierClusterSize]], from one eager corpus count.
    */
  private def knnShape(s: SparkSession, d: String): CellShape =
    CellShape.hier(docs(s, d).count(), ivfIntNlist, knnHierClusterSize,
      semHierMinCoarse)

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
  private def docsCount(s: SparkSession, d: String): Long =
    corpusCountMemo.computeIfAbsent(d, dir => docs(s, dir).count()).longValue()

  /** Documents with deterministic synthetic PII (email / IPv4 / phone
    * derived from doc_id) appended — the shared fixture for the PII
    * scrub (x38) and the corpus build (x41). Every value is a pure
    * function of doc_id so the DuckDB oracle rebuilds it byte-for-byte.
    */
  /** The PII suffix as a column expression so the same injection runs on
    * batch (x38/x41) and STREAMING (x52) frames.
    */
  private def piiText: Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com ip 10."), (col("doc_id") % 250).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"),
      lit(" tel +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text")
  private def docsWithPii(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), piiText)

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
  private def cleanSess(s: SparkSession, d: String) =
    Ecommerce.cleanSessions(Ecommerce.sessionsFromEvents(ev(s, d)))

  /** Per-day cent-exact average of `value` — the shared daily aggregate
    * behind q11 (upsert merge) and q45 (partition-overwrite sink).
    */
  private def dailyCentAvg(events: DataFrame): DataFrame =
    events.select(to_date(col("ts")).as("day"), col("value"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("__vals"), // null-ignoring avg denominator
        sum(round(col("value") * 100, 0).cast("long")).as("__cents"))
      .select(col("day"),
        (floor(col("__cents") / col("__vals") + 0.5) / 100.0).as("avg_value"),
        col("n"))

  /** Fresh sink scratch dir under one JVM-scoped root that a shutdown
    * hook deletes recursively — repeated bench/verify rounds must not
    * accumulate parquet copies in the system temp dir.
    */
  private lazy val sinkScratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_sinks_")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(root)))
    root
  }
  private def sinkScratch(prefix: String): String =
    java.nio.file.Files
      .createTempDirectory(sinkScratchRoot, prefix).toString

  /** Drain a finished memory-sink stream (x51/x52) to scratch parquet
    * and release the per-invocation driver state: each call runs its
    * stream on a fresh `newSession()` clone, and before this helper the
    * clone's memory-sink temp view (holding the FULL result set) and
    * its terminated-query registration survived for the process
    * lifetime — one leaked copy per bench rep. The parquet round-trip
    * also rebinds the result to the PARENT session, so the returned
    * frame keeps no reference into the clone at all.
    *
    * Lifetime contract: the returned frame is backed by EPOCH-suffixed
    * scratch files that survive exactly until the NEXT invocation for
    * the same view completes — bench reps keep one result-set copy on
    * disk (not one per rep), and a frame held across reps fails LOUDLY
    * on read (missing files) instead of silently serving the newer
    * rep's rows, as an overwrite-in-place of a fixed path would.
    *
    * Epochs are keyed by view name PROCESS-wide, so the retire step
    * assumes drains for a given view are SEQUENTIAL (the bench/verify
    * reality: one catalog invocation at a time). Two concurrent drains
    * of the same view could retire an epoch the other is still
    * writing/reading; a concurrent caller must key by (session, view)
    * — e.g. pass a session-suffixed view name — to get disjoint epochs.
    */
  private val drainEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val drainsInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def drainMemorySink(parent: SparkSession, clone: SparkSession,
                              view: String, projected: DataFrame): DataFrame = {
    // ENFORCE the sequential-caller contract instead of only documenting
    // it: a second concurrent drain of the same view would retire an
    // epoch the first is still writing/reading — fail loudly at entry
    // rather than serve a torn read later
    require(drainsInFlight.add(view),
      s"concurrent drainMemorySink for view '$view': drains per view " +
        "must be sequential — key concurrent callers by (session, view), " +
        "e.g. a session-suffixed view name")
    try {
      val epoch: Long =
        drainEpochs.merge(view, 1L, (a, b) => a + b)
      val out = sinkScratchRoot.resolve(s"${view}_out_$epoch")
      projected.write.mode("overwrite").parquet(out.toString)
      clone.catalog.dropTempView(view)
      clone.streams.resetTerminated()
      // the new epoch is fully written — retire the previous one now
      if (epoch > 1L)
        deleteRecursively(sinkScratchRoot.resolve(s"${view}_out_${epoch - 1}"))
      Tables.parquet(parent, out.toString)
    } finally drainsInFlight.remove(view)
  }

  /** Best-effort recursive delete (same tolerance as the shutdown hook:
    * never let one un-deletable path abort the caller).
    */
  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file._
    import java.util.Comparator
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
      catch { case _: Exception => () }
      finally walk.close()
    }
  }

  /** Populate a streaming landing dir with a parquet table's DATA FILES.
    * The table path may be a single file (driver sf dirs) or a directory
    * of part files (generated scale corpora) — the file-stream source
    * only lists plain files at the top of the landing dir, so a symlink
    * to a table DIRECTORY would be silently ignored (observed at 10×:
    * 0-input-rows stream, x51/x52 single-batch assert fired). Linking
    * each data file individually matches both shapes — and the real
    * landing-zone contract, where files arrive as files.
    */
  private def linkIntoLanding(landing: String, table: java.nio.file.Path): Unit = {
    import java.nio.file._
    val target = table.toAbsolutePath
    if (Files.isDirectory(target)) {
      val ls = Files.list(target)
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.createSymbolicLink(
          Paths.get(landing, p.getFileName.toString), p))
      finally ls.close()
    } else {
      Files.createSymbolicLink(
        Paths.get(landing, target.getFileName.toString), target)
    }
  }

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

  private def fixedCountPred(df: DataFrame, keyCol: String, target: Long): Column =
    graft.neardup.NearDup.portableBase(col(keyCol).cast("string")) <
      lit((1L << 60) / fixedCountBuckets(df, target))

  /** The DuckDB twin of [[fixedCountPred]] as SQL text (same md5-nibble
    * base, same floor-divided bucket count from the same row count).
    */
  private def fixedCountPredSql(table: String, keyCol: String,
                                target: Long): String =
    s"${md5Base60Sql(s"CAST($keyCol AS VARCHAR)")} < 1152921504606846976 // " +
      s"(SELECT greatest(count(*) // $target, 1) FROM $table)"

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
  private def recallGate(truth: DataFrame, found: DataFrame, keys: Seq[String],
                         bound: Double, queries: Option[DataFrame] = None,
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
  private def intCosSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${fakeEmbedDim + 1}), j -> $x[CAST(j AS INT)] * $y[CAST(j AS INT)]))::DOUBLE"
    s"(${d(a, b)} / greatest(sqrt(${d(a, a)}) * sqrt(${d(b, b)}), 1e-9))"
  }

  /** DuckDB twin of `Similarity.lshBucket`'s hyperplanes: the splitmix64
    * plane constants are pure functions of (bit, component), so their
    * exact double values are interpolated into the oracle SQL as literal
    * arrays (generated HERE, not hand-written) — DuckDB recomputes the
    * same sign-bit buckets from the same planes, which is what lets the
    * LSH candidate sets (x06/x07) be hash-compared instead of rows-only.
    * Shortest-round-trip double formatting re-parses to the identical
    * bits in any correct reader.
    */
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

  private def lshPlanesSqlValues(tables: Int, nbits: Int, dim: Int): String =
    (0 until tables).flatMap { t =>
      (0 until nbits).map { b =>
        val arr = (0 until dim)
          .map(i => graft.sim.Similarity.planeConst(t * nbits + b, i))
          .mkString("[", ", ", "]")
        s"($t, $b, $arr::DOUBLE[])"
      }
    }.mkString(", ")

  /** The LSH top-k oracle chain at a given nbits (8 tables, dim 64,
    * k=5, fixed-count-40 queries — x06's shape constants): candidate
    * generation from the interpolated plane literals, exact rescoring,
    * rank. ONE spelling shared by the fixed x06 oracle (nbits=6) and
    * every x85 auto branch, so the fixed and auto replays cannot
    * drift.
    */
  private def lshTopKOracleChain(nbits: Int): String =
    s"""WITH planes(t, b, plane) AS (VALUES ${lshPlanesSqlValues(8, nbits, 64)}),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |bands AS (
      |  SELECT vec_id, t,
      |         bit_or(CASE WHEN list_dot_product(vec, plane) > 0
      |                     THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bucket
      |  FROM v, planes GROUP BY vec_id, t),
      |q AS (SELECT vec_id AS qid FROM embeddings
      |      WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}),
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
      |r AS (
      |  SELECT qid, nid, sim,
      |         CAST(row_number() OVER (PARTITION BY qid
      |                                 ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 5""".stripMargin

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

  /** ONE definition site for the exact-integer IVF demo shape (x20i),
    * same desync-proofing as the MinHash constants above: the catalog
    * entry and the oracle SQL both interpolate these, so retuning the
    * index (or the fake-embed width shared with x17's oracle CTEs)
    * cannot leave the SQL twin on the old shape.
    */
  private val fakeEmbedDim = 16 // fake-embed components (x17/x20i byte-sum CTEs)
  private val ivfIntNlist  = 16 // x20i/x53 centroid count
  private val ivfIntNprobe = 2  // x20i probed lists per query
  private val ivfIntK      = 5  // x20i neighbors returned
  private val ivfIntTarget = 40 // x20i fixed-count query-sample size
  private val semDedupThreshold = 0.999 // x53/x56 epsilon-ball cosine (round-6dp)
  private val semHierClusterSize = 300  // x56 target docs per fine cluster
  private val semHierMinCoarse   = 4    // x56 coarse-cell floor
  private val knnHierClusterSize = 100  // x63/x65 target docs per fine cluster
                                        // (scoring = nprobe·cluster per query)
  private val lshAutoTargetBucket = 256 // x85 max expected docs per LSH bucket
  private val lshAutoMinNbits     = 6   // x85 grid floor (= x06's fixed shape)
  private val exportShards = 8 // x54 shuffle-shard export shard count
  private val domainCapK = 10  // x55 max docs kept per source domain
  private val paraChunkTokens = 12 // x60/x62 derived-paragraph width (tokens)
  private val paraBoilerMaxDf = 1  // x62 max distinct docs before a paragraph is boilerplate
  private val dupGramK = 8 // x61 duplicated-n-gram width (= decontamination's)
  private val bloomMBits  = 258048L // x64 bloom size: 4096 63-bit words (~32 KB)
  private val bloomHashes = 3       // x64 bits set per gram
  private val jlOutDim = 16 // x67 JL projected dims (64 → 16: 4× cheaper sims)
  private val jlShortlist = 100 // x68 rerank shortlist per query (recall knob)
  private val jlRecallBound = 0.3 // x68 floor: measured 0.39–0.67 on fixtures
  private val bmK1 = 1.2    // x70 BM25 TF-saturation knob (textbook default)
  private val bmB  = 0.75   // x70 BM25 length-normalization knob
  private val bmK  = 5      // x70 hits returned per query
  private val bmDfFrac = 0.9 // x70 fractional df-cap (documents' 31-word synthetic vocabulary tops out at df ~0.79)
  private val bmQueryTarget = 40L // x70 fixed-count query-sample size
  private val bmBatches = 4 // x89 query-batch count (scratch ∝ 1/batches)
  private val tokenBudget = 1500L // x71 per-domain token budget (keeps ~1/3 of each sf0.01 domain)
  private val bpeTopN = 20 // x72 merge candidates returned
  private val dsirBuckets = 256 // x73 hashed-ngram feature dimension
  private val dsirK = 100       // x73 selected-subset size (1/5 of sf0.01 corpus)
  private val bpeMerges = 4     // x75 learned-merge count
  private val semDecontamEvalTarget = 40L // x69 fixed-count eval-benchmark size
  private val vocabBucketDocs = 100 // x84 ids per curve bucket
  private val tempTau = 2       // x78 mixing temperature (α = 1−1/τ = 0.5)
  private val tempBuckets = 1000 // x78 hash-rate resolution (1/B quantization)
  private val repBucketCap = 256 // x57/x88 per-bucket member cap (pairs ≤ tables·2^nbits·C(cap,2))
  private val repBucketCapTight = 32 // x90/x91 cap sized to ENGAGE at sf0.01 (occupancy ≈125/bucket)
  private val rrfQueryTarget = 20L // x77 fixed-count query sample over the doc∩vec corpus
  private val rrfLegK = 10 // x77 per-ranker candidate-list depth fed to the fuse
  private val rrfC = 60    // x77 RRF damping constant (Cormack et al. 2009's 60)
  private val rrfTopK = 5  // x77 fused hits returned per query

  /** The x81/x82 shared oracle chain: x41's stages (PII inject+redact →
    * tokenize/fingerprint → gates → eval-shingle decontamination →
    * fingerprint dedup `dd`) extended by the x79 span-removal CTEs over
    * the survivors (`dd1`…`scnt`) and the x78 τ=2 source mix
    * (`dom`…`mixed`). x81 appends the packing window; x82 reads the
    * stage CTEs back out as funnel counts. ONE definition so the two
    * oracles cannot drift.
    */
  private def corpusV2Ctes: String =
    s"""p AS (
      |  SELECT doc_id,
      |         regexp_replace(regexp_replace(regexp_replace(
      |           text || ' contact user' || doc_id || '@mail.example.com ip 10.'
      |             || (doc_id % 250) || '.0.' || (doc_id % 100)
      |             || ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'),
      |           '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
      |           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
      |           '\\+\\d[\\d-]{6,14}\\d', '<PHONE>', 'g') AS text
      |  FROM documents),
      |e AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
      |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                     x -> x <> '') AS toks,
      |         length(text) AS n_chars,
      |         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
      |  FROM p),
      |g AS (
      |  SELECT doc_id, fingerprint, toks,
      |    len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS en_hits,
      |    len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS de_hits,
      |    len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr_hits,
      |    len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS es_hits,
      |    CASE WHEN len(toks) < 5 THEN 'too_short'
      |         WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
      |         ELSE 'ok' END AS quality_bucket,
      |    CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)),
      |                          i -> array_to_string(toks[i:i+1], ' '))
      |      ELSE []::VARCHAR[] END AS grams
      |  FROM e),
      |gate AS (
      |  SELECT doc_id, fingerprint, toks FROM g
      |  WHERE doc_id % 20 <> 0
      |    AND quality_bucket = 'ok'
      |    AND CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
      |             WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
      |             WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
      |             WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
      |             ELSE 'es' END = 'en'
      |    AND NOT (len(grams) <> 0 AND
      |             round(1 - len(list_distinct(grams))::DOUBLE / len(grams), 4) >= 0.2)),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS shingle
      |  FROM e, UNNEST(range(1, len(toks) - 6)) AS u(i)
      |  WHERE len(toks) >= 8),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
      |contam AS (
      |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
      |  WHERE s.doc_id % 20 <> 0),
      |dd AS (
      |  SELECT doc_id, toks,
      |         row_number() OVER (PARTITION BY fingerprint
      |                            ORDER BY doc_id ASC) AS rn
      |  FROM gate
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
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
      |  WHERE (((doc_id % 1000000007) * 2654435761 % $tempBuckets
      |            + $tempBuckets) % $tempBuckets)
      |          * (((doc_id % 1000000007) * 2654435761 % $tempBuckets
      |               + $tempBuckets) % $tempBuckets)
      |          * n_domain < n_min * ${tempBuckets.toLong * tempBuckets})"""
  // NO .stripMargin here: the chain is interpolated into the x81/x82
  // templates and stripped ONCE by their stripMargin — pre-stripping
  // would let the outer pass eat the first bar of every `||` concat

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
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
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

  /** The exact-integer IVF model as DuckDB CTEs (`b acc vec c0 s1 a1
    * c1p c1 s2 a2`): byte-sum embeds, Knuth-spread init, one integer
    * floor-mean Lloyd pass, final assignment — the SQL twin of
    * `Similarity.ivfIntModel`, shared verbatim by the x20i (IVF top-k)
    * and x53 (semantic dedup) oracles so the two cannot drift. `a2` is
    * (doc_id, v, cid). `nlistSql` is the centroid count as SQL text —
    * a literal for the fixed-shape x20i, a scalar subquery for x53's
    * corpus-adaptive shape; rn-over-total-order is LIMIT spelled so a
    * subquery bound is legal.
    */
  /** Just the byte-sum integer-embed CTEs (`b acc vec`) — the prefix
    * [[ivfIntAssignCtes]] and the x56 hierarchical chain share.
    */
  private val intEmbedVecCtes: String =
    s"""b AS (
      |  SELECT doc_id, i, ord(substr(text, CAST(i + 1 AS INT), 1)) AS byte
      |  FROM documents, UNNEST(range(length(text))) AS u(i)),
      |acc AS (
      |  SELECT doc_id, i % $fakeEmbedDim AS dd,
      |         sum(byte * (1 + ((i // $fakeEmbedDim) % 3))) AS s
      |  FROM b GROUP BY 1, 2),
      |vec AS (SELECT doc_id, list(CAST(s AS BIGINT) ORDER BY dd) AS v
      |        FROM acc GROUP BY doc_id)""".stripMargin

  private def ivfIntAssignCtes(nlistSql: String): String =
    s"""$intEmbedVecCtes,
      |c0 AS (
      |  SELECT cid, cvec FROM (
      |    SELECT doc_id AS cid, v AS cvec,
      |           row_number() OVER (
      |             ORDER BY (((doc_id % 1000000007) * 2654435761) % 1000003
                       + 1000003) % 1000003 ASC,
      |                      doc_id ASC) AS rn
      |    FROM vec) t
      |  WHERE rn <= $nlistSql),
      |s1 AS (
      |  SELECT vec.doc_id, vec.v, c0.cid, ${intCosSql("vec.v", "c0.cvec")} AS csim
      |  FROM vec, c0),
      |a1 AS (
      |  SELECT doc_id, v, cid FROM (
      |    SELECT doc_id, v, cid,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY csim DESC, cid ASC) AS rn
      |    FROM s1) t WHERE rn = 1),
      |c1p AS (
      |  SELECT cid, u.j AS pos, sum(v[CAST(u.j + 1 AS INT)]) AS sv,
      |         count(*) AS cnt
      |  FROM a1, UNNEST(range($fakeEmbedDim)) AS u(j)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(sv // cnt ORDER BY pos) AS cvec
      |       FROM c1p GROUP BY cid),
      |s2 AS (
      |  SELECT vec.doc_id, vec.v, c1.cid, ${intCosSql("vec.v", "c1.cvec")} AS csim
      |  FROM vec, c1),
      |a2 AS (
      |  SELECT doc_id, v, cid FROM (
      |    SELECT doc_id, v, cid,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY csim DESC, cid ASC) AS rn
      |    FROM s2) t WHERE rn = 1)""".stripMargin

  /** Flat-SemDeDup oracle (x53, and x59's below-crossover branch):
    * shared x20i assignment CTEs with the corpus-adaptive √(n/2)
    * nlist bound, then the within-cluster epsilon-ball drop rule.
    */
  // kNN-graph replay (x63, nested by x65): the HIERARCHICAL assignment
  // chain (shared verbatim with x56 via hierAssignCtes) with probes
  // ranked INSIDE each vector's coarse cell (vcell ⋈ c1c on ccid — the
  // cell-restricted trade Similarity.knnGraph makes), then
  // x20i's probe/score/rank spellings — the integer-IVF oracles cannot
  // drift apart
  private lazy val knnGraphHierOracleSql: String =
    s"""WITH ${hierAssignCtes(hierNlistSqlFor(knnHierClusterSize),
           hierNcoarseSqlFor(knnHierClusterSize))},
      |ps AS (
      |  SELECT vcell.doc_id AS qid, vcell.v AS qvec, c1c.cid,
      |         ${intCosSql("vcell.v", "c1c.fvec")} AS csim
      |  FROM vcell JOIN c1c ON c1c.ccid = vcell.ccid),
      |pr AS (
      |  SELECT qid, qvec, cid FROM (
      |    SELECT qid, qvec, cid,
      |           row_number() OVER (PARTITION BY qid
      |                              ORDER BY csim DESC, cid ASC) AS rn
      |    FROM ps) t WHERE rn <= $ivfIntNprobe),
      |sc AS (
      |  SELECT pr.qid, a2.doc_id AS nid,
      |         round(${intCosSql("pr.qvec", "a2.v")}, 6) AS sim
      |  FROM pr JOIN a2 ON a2.cid = pr.cid AND a2.doc_id <> pr.qid),
      |r AS (
      |  SELECT qid, nid, sim,
      |         CAST(row_number() OVER (PARTITION BY qid
      |                                 ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
      |  FROM sc)
      |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= $ivfIntK""".stripMargin

  private lazy val semDedupFlatOracleSql: String =
    s"""WITH ${ivfIntAssignCtes(
           s"(SELECT greatest($ivfIntNlist, CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT)) FROM documents)")},
      |drops AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND b.doc_id < a.doc_id
      |  WHERE round(${intCosSql("a.v", "b.v")}, 6) >= $semDedupThreshold)
      |SELECT a2.doc_id, a2.cid, (d.doc_id IS NULL) AS kept
      |FROM a2 LEFT JOIN drops d ON d.doc_id = a2.doc_id""".stripMargin

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
  private def hierNlistSqlFor(clusterSize: Int): String =
    s"(SELECT greatest($ivfIntNlist, CAST(ceil(count(*) / $clusterSize.0) AS BIGINT)) FROM documents)"
  private def hierNcoarseSqlFor(clusterSize: Int): String =
    s"(SELECT greatest($semHierMinCoarse, CAST(ceil(sqrt(CAST(greatest($ivfIntNlist, CAST(ceil(count(*) / $clusterSize.0) AS BIGINT)) AS DOUBLE))) AS BIGINT)) FROM documents)"
  private lazy val hierNlistSql: String = hierNlistSqlFor(semHierClusterSize)
  private lazy val hierNcoarseSql: String =
    hierNcoarseSqlFor(semHierClusterSize)

  /** The TWO-LEVEL cell-model CTE chain (`fs cs fcs live csl vcell a1
    * c1p c1 c1c a2`) — the DuckDB twin of `Similarity.hierIntModel`,
    * shared verbatim by the x56 dedup oracle and the x63/x65 kNN-graph
    * oracles so the hierarchical replays cannot drift. `vcell` is
    * (doc_id, v, ccid), `c1c` the refined fine centroids with their
    * inherited coarse cell, `a2` the final cell-restricted assignment
    * (doc_id, v, cid).
    */
  private def hierAssignCtes(nlistSql: String, ncSql: String): String =
    s"""$intEmbedVecCtes,
      |fs AS (
      |  SELECT cid, fvec FROM (
      |    SELECT doc_id AS cid, v AS fvec,
      |           row_number() OVER (
      |             ORDER BY (((doc_id % 1000000007) * 2654435761) % 1000003
                       + 1000003) % 1000003 ASC,
      |                      doc_id ASC) AS rn
      |    FROM vec) t WHERE rn <= $nlistSql),
      |cs AS (
      |  SELECT ccid, cvec FROM (
      |    SELECT doc_id AS ccid, v AS cvec,
      |           row_number() OVER (
      |             ORDER BY (((doc_id % 1000000007) * 2654435761) % 1000003
                       + 1000003) % 1000003 ASC,
      |                      doc_id ASC) AS rn
      |    FROM vec) t WHERE rn <= $ncSql),
      |fcs AS (
      |  SELECT cid, fvec, ccid FROM (
      |    SELECT fs.cid, fs.fvec, cs.ccid,
      |           row_number() OVER (PARTITION BY fs.cid
      |             ORDER BY ${intCosSql("fs.fvec", "cs.cvec")} DESC, cs.ccid ASC) AS rn
      |    FROM fs, cs) t WHERE rn = 1),
      |live AS (SELECT DISTINCT ccid FROM fcs),
      |csl AS (SELECT cs.ccid, cs.cvec FROM cs JOIN live USING (ccid)),
      |vcell AS (
      |  SELECT doc_id, v, ccid FROM (
      |    SELECT vec.doc_id, vec.v, csl.ccid,
      |           row_number() OVER (PARTITION BY vec.doc_id
      |             ORDER BY ${intCosSql("vec.v", "csl.cvec")} DESC, csl.ccid ASC) AS rn
      |    FROM vec, csl) t WHERE rn = 1),
      |a1 AS (
      |  SELECT doc_id, v, cid FROM (
      |    SELECT vcell.doc_id, vcell.v, fcs.cid,
      |           row_number() OVER (PARTITION BY vcell.doc_id
      |             ORDER BY ${intCosSql("vcell.v", "fcs.fvec")} DESC, fcs.cid ASC) AS rn
      |    FROM vcell JOIN fcs ON fcs.ccid = vcell.ccid) t WHERE rn = 1),
      |c1p AS (
      |  SELECT cid, u.j AS pos, sum(v[CAST(u.j + 1 AS INT)]) AS sv,
      |         count(*) AS cnt
      |  FROM a1, UNNEST(range($fakeEmbedDim)) AS u(j)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(sv // cnt ORDER BY pos) AS fvec
      |       FROM c1p GROUP BY cid),
      |c1c AS (SELECT c1.cid, c1.fvec, fcs.ccid
      |        FROM c1 JOIN fcs ON fcs.cid = c1.cid),
      |a2 AS (
      |  SELECT doc_id, v, cid FROM (
      |    SELECT vcell.doc_id, vcell.v, c1c.cid,
      |           row_number() OVER (PARTITION BY vcell.doc_id
      |             ORDER BY ${intCosSql("vcell.v", "c1c.fvec")} DESC, c1c.cid ASC) AS rn
      |    FROM vcell JOIN c1c ON c1c.ccid = vcell.ccid) t WHERE rn = 1)""".stripMargin

  /** Hierarchical-SemDeDup oracle (x56, and x59's at-or-above-
    * crossover branch): the shared two-level assignment chain, then the
    * within-cluster epsilon-ball drop rule.
    */
  private lazy val semDedupHierOracleSql: String =
    s"""WITH ${hierAssignCtes(hierNlistSql, hierNcoarseSql)},
      |drops AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND b.doc_id < a.doc_id
      |  WHERE round(${intCosSql("a.v", "b.v")}, 6) >= $semDedupThreshold)
      |SELECT a2.doc_id, a2.cid, (d.doc_id IS NULL) AS kept
      |FROM a2 LEFT JOIN drops d ON d.doc_id = a2.doc_id""".stripMargin

  /** x59's branch predicate bound — the corpus size where
    * `CellShape.auto` switches to the two-level shape — interpolated
    * into the oracle's WHERE predicates.
    */
  private lazy val semHierCrossoverDocs: Long =
    CellShape.crossoverDocs(semHierClusterSize)

  /** The word-shingle CTE pair (`toks`, shingle set named by `out`) the
    * Jaccard/MinHash oracles share; width and minimum length come from
    * [[wordShingleK]].
    */
  private def wordShingleCtes(out: String, k: Int = wordShingleK): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                             x -> x <> '') AS t
      |  FROM documents),
      |$out AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+${k - 1}], ' ') AS shingle
      |  FROM toks, UNNEST(range(1, len(t) - ${k - 2})) AS u(i)
      |  WHERE len(t) >= $k)""".stripMargin

  /** DF-CAPPED word-shingle inverted index as DuckDB CTEs (`toks sh0
    * hotw sh`): `sh` is the filtered index. Downstream sizes/pair joins
    * must read `sh`, matching the Spark side which computes set sizes on
    * the SAME filtered index (NearDup.jaccardPairsOver) so the Jaccard
    * ratio stays internally consistent. Shared by the x02 pair oracle
    * and the x22 connected-components oracle.
    */
  private val cappedWordShingleCtes: String =
    s"""${wordShingleCtes("sh0")},
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
  /** DuckDB twin of `NearDup.portableBase` WITHOUT the mod-P fold: the
    * raw 60-bit md5 base (first 15 hex nibbles as a non-negative
    * BIGINT) — the same nibble-decode spelling as the minhash `hb` CTE,
    * inlined so callers that need the full base (the x64 bloom) don't
    * pre-reduce it.
    */
  private def md5Base60Sql(c: String): String =
    s"list_sum(list_transform(range(1, 16), j -> " +
      s"(strpos('0123456789abcdef', substr(md5($c), CAST(j AS INT), 1)) - 1)::BIGINT" +
      s" << CAST((15 - j) * 4 AS INT)))::BIGINT"

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
      |${wordShingleCtes("sh")},
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
    * (`NearDup.simhashBanded(..., portable = true)`): 60-bit md5-nibble
    * signatures, 15-bit chunk banding, 200-doc hot cap. CTE names carry
    * an `sx_` prefix so the chain composes with
    * [[minhashPortablePairCtes]] in one WITH block (x58); `sx_c2` is
    * the capped (doc_id, simhash, chunk_id, chunk_val) index. Shared by
    * the x04 pair oracle and the x58 drift gate — one truth definition.
    */
  private val simhashPortableCtes: String =
    """sx_toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                             x -> x <> '') AS t
      |  FROM documents),
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

  /** Fixture payload for the JSON-shredding family (S3/F13/J4/A8/F12) —
    * single source of truth in the pipeline object; the q14 oracle's
    * VALUES are derived from it.
    */
  private def petsJson = PetsNutrition.petsJson

  /** q13's single-parse shred schema (name/brand/size children of the
    * `<part>` root).
    */
  private val partXmlSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("brand",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("size",
      org.apache.spark.sql.types.IntegerType)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- IoT flagship family (SURVEY §3.1: P1-P4, A1, A2, J1, W1, T1) ----
    "q01_iot_clean" -> ((s, d) => Iot.cleanBanded(ev(s, d))),
    "q02_iot_daily" -> ((s, d) => Iot.dailyAvg(ev(s, d))),
    "q03_iot_top5_hot" -> ((s, d) => Iot.top5Hot(ev(s, d))),
    "q04_iot_top5_cold" -> ((s, d) => Iot.top5Cold(ev(s, d))),

    // ---- marts family (A3-A6, J2, W2, F8-F10) ----
    "q05_top_event_type" -> ((s, d) =>
      Top1PerGroup.top1(ev(s, d), Seq("user_id"), "event_type")),
    "q06_user_activity_mart" -> ((s, d) => Marts.userActivityMart(ev(s, d))),
    "q07_order_status_mart" -> ((s, d) => Marts.orderStatusMart(Tables.orders(s, d))),

    // ---- dedup / replication family (A7, K3, S6, A9) ----
    "q08_dedup_keep_first" -> ((s, d) =>
      Dedup.keepFirst(ev(s, d), Seq("user_id", "event_type"),
          Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))),
    "q09_insert_if_absent" -> ((s, d) => {
      val all = ev(s, d)
      Dedup.insertIfAbsent(all, all.filter(col("event_id") % 10 =!= 0), Seq("event_id"))
        .select("event_id", "user_id", "event_type")
    }),

    // ---- incremental family (P8, K4, K5, F16) ----
    "q10_incremental_daily" -> ((s, d) =>
      Incremental.incrementalDailyAvg(ev(s, d), 8)),
    "q11_upsert_merge" -> ((s, d) => {
      val events = ev(s, d)
      val daily = dailyCentAvg(events)
      val cutoff = events.agg(date_sub(max(to_date(col("ts"))), 7).as("cutoff"))
      val incoming = daily.crossJoin(broadcast(cutoff))
        .filter(col("day") >= col("cutoff")).drop("cutoff")
      Incremental.mergeWindow(daily, incoming, "day", cutoff)
    }),

    // K4 generalized: arbitrary-key full-row upsert (incoming wins,
    // existing survives where unclaimed)
    "q32_upsert_bykey" -> ((s, d) => {
      val events = ev(s, d)
      val existing = events.filter(col("event_id") % 3 =!= 0)
        .select("event_id", "user_id", "value")
      val incoming = events.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"))
      Incremental.upsertByKey(existing, incoming, Seq("event_id"))
    }),

    // ---- shredding family (S3/S4, F13-F15, J4, A8, F12) ----
    "q12_json_shred" -> ((s, d) =>
      ev(s, d).select(col("event_id"), Shred.jsonInt(col("props"), "$.k").as("k"))),
    // ONE from_xml parse per row (was 3 xpath_* calls = 3 DOM
    // re-parses per row — the slowest reference-surface bench entry)
    "q13_xml_shred" -> ((s, d) => {
      val xml = concat(
        lit("<part><name>"), col("p_name"), lit("</name><brand>"), col("p_brand"),
        lit("</brand><size>"), col("p_size"), lit("</size></part>"))
      Tables.part(s, d)
        .select(col("p_partkey"),
          Shred.parseXml(xml, partXmlSchema).as("x"))
        .select(col("p_partkey"),
          col("x.name").as("name_x"),
          col("x.brand").as("brand_x"),
          col("x.size").as("size_x"))
    }),
    "q14_shred_pets" -> ((s, d) => {
      val src = s.createDataFrame(Seq(Tuple1(petsJson))).toDF("payload")
      Shred.shredPets(src, "payload").select(
        col("name"), col("species"), col("birth_year"), col("photo"),
        Explode.sizeOrZero(col("fav_foods")).as("n_foods"),
        coalesce(array_join(col("fav_foods"), ";"), lit("")).as("foods"))
    }),
    // F15 complete: all 7 daily-value metrics and the full food field set
    // (nutrition_foods target, HW-2/init/init.sql:291-322)
    "q30_nutrition_daily" -> ((s, d) => PetsNutrition.dailyValues(s)),
    "q31_nutrition_foods" -> ((s, d) => PetsNutrition.foods(s)),

    // ---- final-module pipeline under the oracle gate (P5-P7, P9-P10,
    // F9, F11, A9→counts, T3): clean sessions → user-activity mart, and
    // clean tickets → support-efficiency mart, over DuckDB-replicable
    // collections derived from events/orders ----
    "q27_clean_sessions" -> ((s, d) =>
      cleanSess(s, d)
        .select("session_id", "user_id", "session_date", "duration_min",
          "num_pages", "num_actions", "device")),
    // NOT cached: the stats + 3 top-1 subtrees re-run the map-only clean
    // lineage, which measures CHEAPER than materializing the array-heavy
    // clean frame (cache write+read cost > three vectorized re-scans);
    // at real scale the clean layer is a materialized table anyway
    // the mart consumes the clean layer four times (stats agg + 3
    // top-1-per-group passes) — deliberately UNcached: each consumer
    // prunes to a narrow column set against the parquet scan, and
    // caching the wide array-bearing frame was MEASURED slower (0.85s →
    // 2.4s at sf0.1; no win at 10×) than the four pruned recomputes.
    // The staged-cache discipline (x41) pays off only when consumers
    // need the same expensive wide derivation — here they don't.
    "q28_mart_user_activity" -> ((s, d) =>
      Ecommerce.martUserActivity(cleanSess(s, d))),
    "q29_support_efficiency" -> ((s, d) =>
      Ecommerce.martSupportEfficiency(
        Ecommerce.cleanTickets(
          Ecommerce.ticketsFromOrders(Tables.orders(s, d))))),
    // P9 null-safe nested-struct unwrap + P7 null-timestamp filter
    "q33_clean_event_logs" -> ((s, d) =>
      Ecommerce.cleanEventLogs(
          Ecommerce.eventLogsFromEvents(ev(s, d)))
        .select("event_id", "event_type", "page", "user_id", "error_code",
          "event_date")),
    // K2 surrogate-key generation (INSERT ... RETURNING id equivalent)
    "q34_pets_ids" -> ((s, d) =>
      PetsNutrition.pets(s)
        .select("pet_id", "name", "species", "birth_year", "photo")),
    // S7/F18 deterministic seed generator: golden cardinalities as the
    // reference's implicit test oracle (seed_mongo.py:27-31)
    "q35_fixture_counts" -> ((s, d) => {
      Seq(
        "user_sessions" -> Fixtures.userSessions(s),
        "event_logs" -> Fixtures.eventLogs(s),
        "support_tickets" -> Fixtures.supportTickets(s),
        "user_recommendations" -> Fixtures.userRecommendations(s),
        "moderation_queue" -> Fixtures.moderationQueue(s))
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n")).withColumn("fixture", lit(n))
            .select("fixture", "n")
        }.reduce(_ unionByName _)
    }),
    // S2 all-TEXT CSV round-trip: serialize → headerless CSV parse with a
    // declared all-string schema → type in the transform (raw-layer
    // semantics, HW-3/init/init.sql:6-13)
    "q36_csv_roundtrip" -> ((s, d) => {
      import s.implicits._
      val lines = ev(s, d)
        .select(concat_ws(",", col("event_id"), col("event_type")).as("line"))
        .as[String]
      Sources.rawCsvLines(s, lines, Seq("event_id", "event_type"))
        .select(col("event_id").cast("long").as("event_id"), col("event_type"))
    }),
    // S5 document-collection round-trip: rows → JSON-lines → schema-
    // declared json scan (never inferSchema) incl. a nested struct field
    "q37_json_collection" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val lines = ev(s, d).select(to_json(struct(
        col("event_id"), col("event_type"),
        struct(col("user_id"), col("value")).as("meta"))).as("j")).as[String]
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("meta", StructType(Seq(
          StructField("user_id", LongType),
          StructField("value", DoubleType))))))
      s.read.schema(schema).json(lines)
        .select(col("event_id"), col("event_type"),
          col("meta.user_id").as("user_id"), col("meta.value").as("value"))
    }),

    // K1 truncate-and-reload under the oracle gate: load a STALE subset,
    // then reload the full frame over it, and return the read-back. If
    // the sink appended instead of truncating, the subset rows duplicate
    // and the row/hash compare fails; the oracle is the identity on the
    // source columns.
    "q44_sink_truncate" -> ((s, d) => {
      val tmp = sinkScratch("q44") + "/events_sink"
      val events = ev(s, d).select("event_id", "event_type", "user_id")
      graft.sources.Sinks.truncateReload(
        events.filter(col("event_id") % 5 === 0), tmp)
      graft.sources.Sinks.truncateReload(events, tmp)
      Tables.parquet(s, tmp)
    }),
    // K5 windowed delete+rebuild under the oracle gate: full partitioned
    // load with the last-7-days partitions CORRUPTED (n = -1), then a
    // dynamic partition-overwrite of just the recomputed window. The
    // read-back must equal the clean full recompute — proving the
    // overwrite replaced ONLY the window partitions (a static overwrite
    // would drop history → missing rows; an append would duplicate).
    "q45_sink_overwrite_window" -> ((s, d) => {
      val tmp = sinkScratch("q45") + "/daily_sink"
      val events = ev(s, d)
      val cutoff = events.agg(date_sub(max(to_date(col("ts"))), 7).as("cutoff"))
      // pinned (tiny: one row per day): BOTH sink writes consume it, and
      // unpinned each would re-run the full events scan + aggregate
      val withCut = dailyCentAvg(events).crossJoin(broadcast(cutoff))
        .localCheckpoint(true)
      graft.sources.Sinks.partitionedReload(
        withCut.withColumn("n",
            when(col("day") >= col("cutoff"), lit(-1L)).otherwise(col("n")))
          .drop("cutoff"),
        tmp, "day")
      graft.sources.Sinks.overwriteWindow(
        withCut.filter(col("day") >= col("cutoff")).drop("cutoff"), tmp, "day")
      s.read.parquet(tmp).select("day", "avg_value", "n")
    }),
    // K3 insert-if-absent DISK sink under the oracle gate (q09 pins the
    // anti-join logic; this pins the storage round-trip): seed the target
    // with the %3 rows, then appendIfAbsent the %2 rows — the %6 overlap
    // must NOT duplicate. Read-back = rows with event_id %3==0 OR %2==0,
    // an identity the oracle states directly; an append-without-anti-join
    // fails the row count, a truncate-instead-of-append loses %3 rows.
    "q46_sink_append_absent" -> ((s, d) => {
      val tmp = sinkScratch("q46") + "/events_sink"
      val events = ev(s, d).select("event_id", "event_type", "user_id")
      graft.sources.Sinks.truncateReload(
        events.filter(col("event_id") % 3 === 0), tmp)
      graft.sources.Sinks.appendIfAbsent(
        events.filter(col("event_id") % 2 === 0), tmp, Seq("event_id"))
      Tables.parquet(s, tmp)
    }),
    // K4 upsert DISK sink under the oracle gate (q11/q32 pin the merge
    // logic; this pins the staging-swap storage round-trip): load the
    // full frame, then upsert a batch that UPDATES the %4 keys (value
    // bumped by 1000) and INSERTS fresh keys (+10000000 ids for the %5==1
    // rows). The read-back must show updated, untouched, and inserted
    // rows exactly — an incoming-loses merge, a dropped-history swap, or
    // a double-apply all fail the hash.
    "q47_sink_upsert_reload" -> ((s, d) => {
      val tmp = sinkScratch("q47") + "/events_sink"
      val events = ev(s, d).select("event_id", "event_type", "user_id")
      graft.sources.Sinks.truncateReload(events, tmp)
      val updates = events.filter(col("event_id") % 4 === 0)
        .withColumn("user_id", col("user_id") + 1000L)
      val inserts = events.filter(col("event_id") % 5 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
      graft.sources.Sinks.upsertReload(updates.unionByName(inserts),
        tmp, Seq("event_id"))
      Tables.parquet(s, tmp)
    }),

    // ---- sorts / set ops / arrays (T1-T3, U1, J3, A8, F12) ----
    "q15_latest_event" -> ((s, d) =>
      TopK.latestBy(ev(s, d), "event_id")
        .select("event_id", "user_id", "event_type", "value")),
    "q16_explode_words" -> ((s, d) =>
      Explode.unnest(Tables.part(s, d), split(col("p_name"), " "), "word", col("p_partkey"))),
    "q17_array_stats" -> ((s, d) =>
      // empties filtered on BOTH sides: Spark split drops trailing empty
      // strings, DuckDB string_split keeps them — explicit filters align
      Explode.arrayStats(Tables.part(s, d), col("p_partkey"),
          filter(split(col("p_name"), " "), w => w =!= ""))
        .withColumn("n_items", col("n_items").cast("long"))),
    "q18_union_counts" -> ((s, d) => {
      val tables = Seq("region", "nation", "supplier", "customer", "part")
      tables.map(t => Tables.table(s, d, t)
          .agg(count(lit(1)).as("n")).withColumn("tbl", lit(t)).select("tbl", "n"))
        .reduce(_ unionByName _)
    }),

    // P1/F2/F3/F5/F7 typed clean, exercised as a round-trip: format ts and
    // value to raw text (two timestamp formats by parity, decimal-comma
    // floats) then re-type them with the cleaning operators. The oracle is
    // the identity on the source columns — exactly the reference's
    // "all-TEXT raw layer, typed in the transform" semantics
    // (HW-3/init/init.sql:6-13 + iot_temperature.py:48-62).
    "q19_typed_clean" -> ((s, d) => {
      val raw = ev(s, d).select(
        col("event_id"),
        when(col("event_id") % 2 === 0,
            date_format(col("ts"), "dd-MM-yyyy HH:mm:ss"))
          .otherwise(date_format(col("ts"), "dd-MM-yyyy HH:mm")).as("noted"),
        translate(col("value").cast("string"), ".", ",").as("temp_txt"))
      raw.select(
        col("event_id"),
        to_date(Cleaning.parseTsMultiFormat(col("noted"))).as("day"),
        Cleaning.numericText(col("temp_txt")).as("temp"))
    }),

    // ---- headline analytics at bench scale (scan→join→agg→sort) ----
    "q20_pricing_summary" -> ((s, d) =>
      Analytics.pricingSummary(Tables.lineitem(s, d), "1998-01-01")
        .withColumn("sum_qty", col("sum_qty").cast("double"))
        .withColumn("sum_base_price", col("sum_base_price").cast("double"))
        .withColumn("sum_disc_price", col("sum_disc_price").cast("double"))),
    "q21_shipping_priority" -> ((s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
          Tables.lineitem(s, d), "AUTOMOBILE", "1998-01-01")
        .withColumn("revenue", col("revenue").cast("double"))),
    "q22_revenue_by_nation" -> ((s, d) =>
      Analytics.revenueByNation(Tables.region(s, d), Tables.nation(s, d),
          Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
          "ASIA", "1996-01-01", "1997-01-01")
        .withColumn("revenue", col("revenue").cast("double"))),

    // ---- north-star extensions: dedup (exact + near) ----
    "x01_dedup_exact" -> ((s, d) =>
      Dedup.exactTextDedup(docs(s, d), "doc_id", "text")),
    // cacheShingles: the shingle frame feeds sizes + both join sides;
    // caching it trades one small persisted frame for two re-computations
    // of the explode+distinct (plan-canonicalized, so repeated catalog
    // runs reuse one cache entry).
    // maxDocFreq = wordShingleDfCap: word shingles shared by more docs
    // are dropped BEFORE the pair join (same Σ C(df,2) bound x31
    // applies to char grams — the uncapped char variant measured 874s
    // vs ~2s at sf0.1). At real corpus growth the cap is the difference
    // between a linear inverted-index join and a quadratic hot-key
    // blowup; the oracle CTE mirrors it so jaccard stays cross-engine-
    // exact. Cap value derivation: see the constant's comment (round-14
    // v2-500k df-mass probe).
    "x02_jaccard_pairs" -> ((s, d) =>
      NearDup.jaccardPairs(docs(s, d), "doc_id", "text", k = wordShingleK,
        threshold = mhThreshold, cacheShingles = true,
        maxDocFreq = Some(wordShingleDfCap))),
    // hot band buckets capped at 200 docs: on this low-entropy corpus the
    // cap drops NO pairs at sf0.01/sf0.1 (sweep-verified) but bounds the
    // C(n,2) pair expansion that would otherwise dominate at 100 TB.
    // portable = true: md5-base affine slot hashes + polynomial band
    // keys (NearDup.portableBase/portableCoef) let the DuckDB oracle
    // rebuild the SAME band buckets, so the LSH candidate SET is
    // hash-checked (round 5 — was rows-only under engine murmur); the
    // murmur production default stays gated by x33.
    "x03_minhash_lsh" -> ((s, d) =>
      NearDup.minhashLshPairs(docs(s, d), "doc_id", "text",
        k = wordShingleK, numHashes = mhNumHashes, bands = mhBands,
        threshold = mhThreshold, maxBucketSize = Some(mhBucketCap),
        cacheShingles = true, cacheBands = true, portable = true)),
    // portable = true: 60-bit md5-nibble signatures (NearDup.simhash) —
    // the oracle recomputes every signature bit-for-bit, so buckets,
    // hamming distances, and the pair set are all cross-engine-checked
    // (was rows-only under xxhash64, which only x34's gate covered)
    "x04_simhash_pairs" -> ((s, d) =>
      NearDup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 8,
        maxBucketSize = Some(200), cacheBands = true, portable = true)),
    // PRODUCTION-hash twins of x03/x04: the engine-hash defaults
    // (murmur3 minhash permutations / xxhash64 simhash bits,
    // portable = false) are the path a real 100 TB dedup runs — cheaper
    // than the md5-based portable spelling, but JVM-internal, so no
    // DuckDB twin can rebuild their buckets (rows-only; recall stays
    // gated by x33/x34, which exercise exactly these defaults). Catalog
    // entries so the murmur path's COST is tracked per-query per round —
    // round 5 benched only the portable demo path, leaving a
    // murmur-path perf regression invisible.
    "x03p_minhash_lsh_prod" -> ((s, d) =>
      NearDup.minhashLshPairs(docs(s, d), "doc_id", "text",
        k = wordShingleK, numHashes = mhNumHashes, bands = mhBands,
        threshold = mhThreshold, maxBucketSize = Some(mhBucketCap),
        cacheShingles = true, cacheBands = true)),
    "x04p_simhash_prod" -> ((s, d) =>
      NearDup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 8,
        maxBucketSize = Some(200), cacheBands = true)),
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
    "x58_prod_twin_drift" -> ((s, d) => {
      val dd = docs(s, d)
      // ONE tokenize pass feeds all four candidate aggregations (round
      // 18): the shingle index (both minhash families) and the simhash
      // explode read the same cached (id, toks) frame, and the two
      // simhash families' signatures come out of ONE fused explode+
      // aggregate — r17 ran three full tokenizer passes and two
      // separate simhash aggregations by construction. At 100 TB the
      // toks cache is corpus-sized (disk-backed), the right trade for
      // a gate that runs four full-corpus aggregations over it.
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
    }),
    // character-5-gram Jaccard pairs: the tokenization-robust dedup
    // variant (word shingles miss dups with whitespace/punctuation
    // damage; char grams don't). The df-cap is NOT optional here: common
    // substrings appear in nearly every doc and the uncapped pair join is
    // Σ C(df,2) — measured 874s vs ~2s at sf0.1
    "x31_char_jaccard" -> ((s, d) =>
      NearDup.jaccardPairsOver(
        NearDup.charShingles(docs(s, d), "doc_id", "text", n = 5),
        threshold = 0.3, maxDocFreq = Some(charGramDfCap), cacheIndex = true)),
    // recall gate for the capped MinHash-LSH path (x03, and x28
    // transitively — identical candidate generation): the banded pairs
    // must cover ≥70% of the exact-Jaccard pairs at threshold+margin
    // (0.5 vs the 0.2 operating threshold; banding theory at 16/4 gives
    // ~88% per-pair hit at j=0.8, and every fixture dup pair sits above
    // that). One shared shingle frame feeds both sides; n_pairs is
    // cross-engine-checked, recall_ok has a literal-TRUE oracle — a
    // banding regression fails the hash gate instead of hiding rows-only
    "x33_minhash_recall" -> ((s, d) => {
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
          threshold = 0.2, maxBucketSize = Some(200), cacheBands = true,
          probePred = probe)
        .select("doc_a", "doc_b")
      recallGate(exact, lsh, Seq("doc_a", "doc_b"), 0.7)
    }),
    // same gate for the SimHash path (x04): 16-bit chunk banding
    // guarantees hamming ≤ 3 is always caught; near-identical dup pairs
    // land well inside that, so coverage of the j ≥ 0.5 exact pairs must
    // stay ≥ 50%
    "x34_simhash_recall" -> ((s, d) => {
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
          maxHamming = 8, maxBucketSize = Some(200), cacheBands = true,
          probePred = probe)
        .select("doc_a", "doc_b")
      recallGate(exact, sim, Seq("doc_a", "doc_b"), 0.5)
    }),
    // dup-cluster assignment (connected components of the exact-Jaccard
    // pair graph): the keeper-per-cluster step after pair generation;
    // oracle = recursive-CTE transitive closure over the same pairs.
    // Same wordShingleDfCap as x02 (its pair source) — the CC step is
    // scale-safe on its own, but an uncapped pair source re-opens the
    // hot-shingle quadratic it consumes.
    "x22_dup_clusters" -> ((s, d) =>
      NearDup.dupClusters(
        NearDup.jaccardPairs(docs(s, d), "doc_id", "text", k = wordShingleK,
          threshold = mhThreshold, cacheShingles = true,
          maxDocFreq = Some(wordShingleDfCap)))),
    // the same cluster assignment over the SCALE pair path (capped
    // MinHash-LSH candidates instead of the exact all-shared-shingle
    // join) — the composition a 100 TB dedup actually runs. portable
    // hashing (as in x03) makes the candidate pairs — and therefore the
    // whole cluster assignment — oracle-checked via the recursive-CTE CC
    // twin (round 5 — was rows-only)
    "x28_dup_clusters_lsh" -> ((s, d) =>
      NearDup.dupClusters(
        NearDup.minhashLshPairs(docs(s, d), "doc_id", "text",
          k = wordShingleK, numHashes = mhNumHashes, bands = mhBands,
          threshold = mhThreshold, maxBucketSize = Some(mhBucketCap),
          cacheShingles = true, cacheBands = true, portable = true))),

    // ---- north-star extensions: similarity search ----
    // Query sets for the ANN family are FIXED-COUNT samples, not corpus
    // fractions: an ANN workload is "Q queries against an N-vector
    // index" — Q does not grow with N, and a modulo predicate (the
    // round-4 spelling) made every one of these quadratic at the 10×
    // probe (x06 measured 19× wall for 10× data; ~2× after this change)
    "x05_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", target = 40), k = 5)),
    // Johnson-Lindenstrauss compressed-space top-k: deterministic ±1
    // (Achlioptas) projection 64 → 16 dims as pure column arithmetic in
    // the scan stage, then x05's brute shape over the projected vectors
    // — each similarity costs r/dim of the exact one. Project once at
    // ingest, run every ANN/dedup pass compressed: the 100 TB lever.
    // Signs are splitmix-derived pure functions, so the oracle rebuilds
    // the identical matrix and the projected top-k is hash-checked;
    // quality vs exact space is gated by x68, not assumed
    "x67_jl_topk" -> ((s, d) =>
      Similarity.cosineTopKJl(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", target = 40),
        dim = 64, r = jlOutDim, k = 5)),
    // 8 hash tables: single-table bucketing recalls only ~7-10% of the
    // true top-5 on these near-uniform vectors; 8 tables reach ~35-48%
    // (gated by x35) at linear extra cost — the production LSH-ANN shape
    "x06_cosine_lsh" -> ((s, d) =>
      Similarity.cosineTopKLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", target = 40),
        dim = 64, k = 5, nbits = 6, tables = 8)),
    // AUTO-shaped LSH ANN — x06's production spelling: nbits grows
    // with the corpus (smallest b >= 6 with n <= 256·2^b, pure integer
    // compares) so bucket occupancy and per-query candidate work stay
    // FLAT instead of linear at a fixed grid. The oracle replays the
    // branch rule as count-range predicates over the shared x06 chain
    // (the x59 pattern); the rule itself is spec-pinned across the
    // bench-only deeper grids (LshAutoSpec)
    "x85_lsh_auto" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.cosineTopKLshAuto(emb, "vec_id", "embedding",
        fixedCountPred(emb, "vec_id", target = 40), dim = 64,
        n = emb.count(), k = 5, targetBucket = lshAutoTargetBucket,
        minNbits = lshAutoMinNbits, tables = 8)
    }),
    // recall gate for the bucketed ANN (x06's configuration) vs in-plan
    // brute force — same literal-TRUE-oracle pattern as x27. The gate's
    // query set is a FIXED-COUNT sample (~40 queries at any sf, same
    // rule as x06 itself), so the brute truth pass stays linear in
    // corpus size
    "x35_lsh_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qp = fixedCountPred(emb, "vec_id", target = 40)
      val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
        qp, k = 5).select("qid", "nid")
      val lsh = Similarity.cosineTopKLsh(emb, "vec_id", "embedding",
          qp, dim = 64, k = 5, nbits = 6, tables = 8)
        .select("qid", "nid")
      recallGate(brute, lsh, Seq("qid", "nid"), 0.2, Some(emb.filter(qp)))
    }),
    // recall gate for the product-quantization path: PQ-ADC shortlist +
    // exact rerank vs in-plan brute force. PQ codes depend on Lloyd
    // means (float-order sensitive), so the output pins the recall
    // BOUND and the cross-engine query count, never the code values —
    // the x27/x35 pattern. Measured recall@5 at the defaults: 1.0 at
    // sf0.01, 0.945 at sf0.1 — the 0.7 gate has real margin, and a
    // codebook regression (bad init, broken ADC table order, subspace
    // misalignment) collapses straight through it
    "x47_pq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // fixed-count query sample (~40 at any sf): the truth pass is
      // O(queries · corpus) — linear in corpus — where the old modulo
      // predicate measured 5.7× wall at 10× (PLANS.md)
      val qp = fixedCountPred(emb, "vec_id", target = 40)
      val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
        qp, k = 5).select("qid", "nid")
      val pq = Similarity.cosineTopKPq(emb, "vec_id", "embedding",
          qp, dim = 64, m = 16, ksub = 32,
          shortlist = 100, k = 5).select("qid", "nid")
      recallGate(brute, pq, Seq("qid", "nid"), 0.7, Some(emb.filter(qp)))
    }),
    // recall gate for the IVF-PQ composition — the production index
    // shape: coarse lists prune WHICH vectors are scored, PQ codes
    // compress WHAT is scored, rerank restores precision. Probing half
    // the lists measured recall@5 0.78 / 0.73 at sf0.01 / sf0.1; the
    // 0.5 gate matches the IVF-flat convention (x27) and catches a
    // regression in either stage or in their composition
    "x49_ivfpq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // fixed-count query sample, as in x47
      val qp = fixedCountPred(emb, "vec_id", target = 40)
      val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
        qp, k = 5).select("qid", "nid")
      val ivfpq = Similarity.cosineTopKIvfPq(emb, "vec_id", "embedding",
          qp, dim = 64, nlist = 16, nprobe = 8,
          m = 16, ksub = 32, shortlist = 100, k = 5).select("qid", "nid")
      recallGate(brute, ivfpq, Seq("qid", "nid"), 0.5, Some(emb.filter(qp)))
    }),
    // multi-table LSH (8 tables × 4 hyperplanes): single-table recall at
    // this threshold is ~4-11% (measured) — the multi-table profile lifts
    // it to ~65-74% at linear extra cost, gated by x32
    "x07_embedding_neardup" -> ((s, d) =>
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, threshold = 0.25, nbits = 4, tables = 8)),
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
    "x57_embed_neardup_reps" -> ((s, d) =>
      Similarity.embeddingNearDupReps(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, threshold = 0.25, nbits = 4, tables = 8,
        bucketCap = Some(repBucketCap))),
    // the no-silent-caps companion of x57: per-(table, bucket) rep
    // occupancy with the kept count under the member cap — where the
    // cap engages at scale, n_kept < n_ids IS the truncation report,
    // hash-checked like any other query (same rep collapse + literal-
    // plane banding as x57, one linear aggregate)
    "x88_neardup_bucket_load" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val reps = emb.groupBy(col("embedding").as("__vec"))
        .agg(min(col("vec_id")).as("rep_id"))
        .select(col("rep_id"), col("__vec").as("embedding"))
      Similarity.nearDupBucketLoad(reps, "rep_id", "embedding",
        dim = 64, nbits = 4, tables = 8, bucketCap = repBucketCap)
    }),
    // the report with the cap ENGAGED (round-14 verdict item 6: the
    // sf0.01 replay of x88 never truncates — occupancy ≈125 « 256 —
    // so the engaged path was only spec-covered): at cap=32 most
    // buckets truncate and the n_kept < n_ids quantity is hash-checked
    // by the driver's oracle, not just by NearDupCapSpec's synthetic
    // corpus
    "x90_neardup_bucket_load_tight" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val reps = emb.groupBy(col("embedding").as("__vec"))
        .agg(min(col("vec_id")).as("rep_id"))
        .select(col("rep_id"), col("__vec").as("embedding"))
      Similarity.nearDupBucketLoad(reps, "rep_id", "embedding",
        dim = 64, nbits = 4, tables = 8, bucketCap = repBucketCapTight)
    }),
    // x57 with the cap ENGAGED: the deterministic kept-member SELECTION
    // (lowest cap ids per bucket) — not just the count — feeds the pair
    // join and is pinned by the hash compare against the same-rule
    // DuckDB twin
    "x91_neardup_reps_tight" -> ((s, d) =>
      Similarity.embeddingNearDupReps(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, threshold = 0.25, nbits = 4, tables = 8,
        bucketCap = Some(repBucketCapTight))),
    // near-dup recall gate over a 1-in-10 sample: brute-force pairs are
    // exactly oracle-checkable (DuckDB computes the same cosine), and the
    // in-plan recall bound turns an LSH regression into a hash failure
    "x32_embed_neardup_recall" -> ((s, d) => {
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
        dim = 64, threshold = 0.25, nbits = 4, tables = 8)
        .select("id_a", "id_b")
      val v = sample.select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val brute = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          round(Similarity.cosine(col("a.vec"), col("b.vec")), 6).as("sim"))
        .filter(col("sim") >= 0.25)
        .select("id_a", "id_b")
      recallGate(brute, lsh, Seq("id_a", "id_b"), 0.5)
    }),
    "x20_cosine_ivf" -> ((s, d) =>
      Similarity.cosineTopKIvf(Tables.embeddings(s, d), "vec_id", "embedding",
        fixedCountPred(Tables.embeddings(s, d), "vec_id", target = 40),
        nlist = 16, nprobe = 2, k = 5)),
    // ANN quality gate: IVF mean recall@5 against in-plan brute force —
    // the oracle expects literal TRUE, so a probe/centroid regression
    // that tanks recall fails the hash gate instead of hiding in
    // rows-only. Corpus-level mean (the standard ANN metric — individual
    // queries near list boundaries legitimately dip); nprobe=4 with one
    // Lloyd pass clears 0.5 with margin, while the benchmarked x20 keeps
    // the faster nprobe=2 profile
    "x27_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // fixed-count query sample, as in x35/x47/x49
      val qp = fixedCountPred(emb, "vec_id", target = 40)
      val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
        qp, k = 5).select("qid", "nid")
      val ivf = Similarity.cosineTopKIvf(emb, "vec_id", "embedding",
        qp, nlist = 16, nprobe = 4, k = 5)
        .select("qid", "nid")
      recallGate(brute, ivf, Seq("qid", "nid"), 0.5, Some(emb.filter(qp)),
        okCol = "mean_recall_ok")
    }),
    // recall gate for the two-stage JL pipeline (shortlist in projected
    // space, exact rerank — the production composition) vs exact-space
    // brute force — same literal-TRUE-oracle pattern and ANSI
    // zero-branch as x27. Measured on the near-uniform fixtures (the
    // deliberately hard case): 0.39 (sf0.1) – 0.67 (sf0.01) at
    // shortlist=100, vs 0.09 for raw projected top-5 — the 0.3 floor is
    // the x35-family honest band, and `shortlist` is the recall knob
    "x68_jl_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qp = fixedCountPred(emb, "vec_id", target = 40)
      val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
        qp, k = 5).select("qid", "nid")
      val jl = Similarity.cosineTopKJlRerank(emb, "vec_id", "embedding",
        qp, dim = 64, r = jlOutDim, shortlist = jlShortlist, k = 5)
        .select("qid", "nid")
      recallGate(brute, jl, Seq("qid", "nid"), jlRecallBound,
        Some(emb.filter(qp)), okCol = "mean_recall_ok")
    }),
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
    "x20i_ivf_int" -> ((s, d) =>
      Similarity.cosineTopKIvfInt(intEmbeds(s, d), "doc_id", "embedding",
        fixedCountPred(docs(s, d), "doc_id", target = ivfIntTarget),
        nlist = ivfIntNlist, nprobe = ivfIntNprobe, k = ivfIntK)),
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
    "x63_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(intEmbeds(s, d), "doc_id", "embedding",
        knnShape(s, d), nprobe = ivfIntNprobe, k = ivfIntK)),
    // mutual-kNN communities over x63's graph: sim-thresholded directed
    // edges → mutual-pair symmetrization (one self-semi-join on the
    // reversed key — kills hub chains) → the shared log-diameter CC
    // fold. The cluster assignment graph-based curation consumes;
    // oracle = x63's full replay nested under the x22 recursive-CTE
    // component closure
    "x65_knn_communities" -> ((s, d) =>
      Similarity.mutualKnnClusters(
        Similarity.knnGraph(intEmbeds(s, d), "doc_id", "embedding",
          knnShape(s, d), nprobe = ivfIntNprobe, k = ivfIntK),
        threshold = semDedupThreshold)),
    // SEMANTIC dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    // integer fake embeds (the shared x20i model), then drop every doc
    // with a lower-id cluster-mate inside the cosine epsilon ball —
    // dedup by MEANING-proxy, no text comparison. Same-cluster pair
    // join only (Σ n_c², never corpus²); at real scale nlist grows with
    // the corpus so cluster size — and pair work per row — stays flat
    "x53_semantic_dedup" -> ((s, d) =>
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
        threshold = semDedupThreshold)),
    // HIERARCHICAL semantic dedup (the x56 scale spelling of x53):
    // constant target cluster size keeps the pair stage LINEAR, and the
    // two-level cell-restricted assignment replaces the flat n·nlist
    // argmax with ~n^1.25 work — the last super-linear schedule in the
    // catalog closed. Shape bounds are the SAME IEEE op sequences the
    // oracle's scalar subqueries evaluate.
    "x56_semantic_dedup_hier" -> ((s, d) =>
      Similarity.semDedup(intEmbeds(s, d), "doc_id", "embedding",
        CellShape.hier(docs(s, d).count(), ivfIntNlist, semHierClusterSize,
          semHierMinCoarse), threshold = semDedupThreshold)),
    // AUTO-shaped semantic dedup — the default entry point: flat below
    // the targetClusterSize²/2 crossover (where flat's balanced √(2n)
    // clusters are already smaller than the hierarchical target),
    // hierarchical at or above it. The shipped sf dirs all land on the
    // flat branch (≤5k docs); the scale corpora land hierarchical —
    // the branch rule itself is oracle-replayed (same count predicate
    // on both sides) and spec-pinned (SemDedupSpec).
    "x59_semantic_dedup_auto" -> ((s, d) =>
      Similarity.semDedup(intEmbeds(s, d), "doc_id", "embedding",
        CellShape.auto(docs(s, d).count(), ivfIntNlist, semHierClusterSize,
          semHierMinCoarse), threshold = semDedupThreshold)),
    // paragraph-level keep-first dedup (CCNet-style boilerplate
    // removal). The fixture corpus is single-line, so the entry first
    // derives deterministic paragraph structure — tokens chunked
    // [paraChunkTokens] at a time, joined by '\n' — then runs the real
    // split→winner-agg→rebuild operator on it; exact-dup and shared-
    // prefix near-dup docs yield genuine cross-doc duplicate paragraphs
    "x60_paragraph_dedup" -> ((s, d) =>
      ParaDedup.dedupParagraphs(structuredDocs(s, d), "doc_id", "text")),
    // cross-document boilerplate removal (the C4/RefinedWeb rule, the
    // complement of x60's keep-first policy): a paragraph occurring in
    // > [paraBoilerMaxDf] distinct docs is dropped from ALL of them —
    // first copy included — while rare paragraphs survive everywhere.
    // Same derived-paragraph structure as x60, so the two sub-document
    // policies are directly comparable on the same corpus
    "x62_boilerplate_rm" -> ((s, d) =>
      ParaDedup.removeBoilerplate(structuredDocs(s, d), "doc_id", "text",
        maxDocFreq = paraBoilerMaxDf)),
    // duplicated-n-gram profile (the exact-substring-dedup cut signal,
    // Lee et al. 2022): per doc, distinct word 8-grams shared verbatim
    // with ANY other doc + the fraction — same gram width as x36's
    // decontamination so the two signals compose
    "x61_dupgram_profile" -> ((s, d) =>
      NearDup.dupGramProfile(docs(s, d), "doc_id", "text", k = dupGramK)),
    // exact duplicated-SPAN removal (Lee et al. ExactSubstr, the acting
    // form of x61's profile): every token covered by a corpus-repeated
    // k-gram is cut from every copy, survivors rejoined in order — the
    // k-gram relational spelling of the paper's suffix-array scan
    // (three linear exchanges, nothing quadratic; see SpanDedup)
    "x79_span_dedup" -> ((s, d) =>
      SpanDedup.removeDuplicatedSpans(docs(s, d), "doc_id", "text",
        k = dupGramK)),

    // ---- north-star extensions: text analysis ----
    "x08_langid" -> ((s, d) => TextAnalysis.langId(docs(s, d), "doc_id", "text")),
    // char-trigram profile language ID, profiles trained in-plan from the
    // labeled corpus — pure relational arithmetic end to end, so the
    // whole train→score→argmax path is replicated by the DuckDB oracle
    "x21_langid_ngram" -> ((s, d) =>
      TextAnalysis.langIdNgram(docs(s, d), "doc_id", "text", "lang")
        .withColumnRenamed("id", "doc_id")),
    // the factored train/test path: profiles trained OFFLINE on the even
    // split (tiny broadcastable frame — at 100 TB you persist this), test
    // split classified against them — the production inference shape
    "x30_langid_pretrained" -> ((s, d) => {
      val all = docs(s, d)
      val profiles = TextAnalysis.trainNgramProfiles(
        TextAnalysis.docNgrams(all.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", "lang"))
      TextAnalysis.classifyNgram(
          TextAnalysis.docNgrams(all.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", "lang"), profiles)
        .withColumnRenamed("id", "doc_id")
    }),
    "x09_text_quality" -> ((s, d) => TextAnalysis.quality(docs(s, d), "doc_id", "text")),
    // per-source distinct-n lexical diversity (distinct-1/distinct-2):
    // the before/after health check of every curation pass — two
    // explode→distinct-count passes, one row per domain
    "x80_diversity_profile" -> ((s, d) =>
      TextAnalysis.diversityProfile(docs(s, d), "source", "text")),
    // Heaps-law vocabulary growth: cumulative distinct tokens in
    // doc-id order via the min-first-occurrence aggregate (no rescan);
    // the tokenizer-sizing / corpus-freshness curve
    "x84_vocab_growth" -> ((s, d) =>
      TextAnalysis.vocabGrowth(docs(s, d), "doc_id", "text",
        bucketDocs = vocabBucketDocs)),
    "x10_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(docs(s, d), "doc_id", "text")),
    "x11_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d), "doc_id", "text")),
    "x12_rolling_hash" -> ((s, d) => TextAnalysis.rollingHash(docs(s, d), "doc_id", "text")),
    "x23_tfidf_terms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(docs(s, d), "doc_id", "text", k = 3)),
    // the composed curation pipeline: quality gate → language gate →
    // fingerprint dedup → deterministic sample, ONE corpus pass + one
    // dedup shuffle (see pipelines.Curation)
    "x26_curation_pipeline" -> ((s, d) =>
      Curation.curate(docs(s, d), "doc_id", "text",
        lang = "en", keepPer100 = 50)),
    // batch gap-sessionization as window algebra (the relational twin of
    // the streaming flatMapGroupsWithState sessionizer)
    "x25_sessionize_batch" -> ((s, d) =>
      Sessionize.sessionizeBatch(ev(s, d), "user_id", "ts", "value",
        gapMinutes = 30)),
    // STREAMING sessionize, driver-observable (round 5 — streaming was
    // spec-only before): the stateful flatMapGroupsWithState path run to
    // completion with Trigger.AvailableNow and hash-compared against a
    // SQL twin. Batch 0 ingests every event (fresh checkpoint →
    // watermark 0 drops nothing), then the no-data batch advances the
    // watermark to max(ts) - 10 min and fires the EventTimeTimeouts.
    // The emitted set is exactly deterministic: every non-final session
    // per user (gap-closed inside batch 0) plus each final session whose
    // timeout ms — ceil((last_µs + gap_µs)/1000), the sessionizer's own
    // rounding — lies strictly below the final watermark ms. The oracle
    // encodes that rule in SQL, so the state store, watermark arithmetic,
    // and timeout semantics are cross-engine-checked end-to-end. Values
    // ride as integer cents (the x25 idiom) so double sums are exact in
    // both engines.
    "x51_stream_sessionize" -> ((s, d) => {
      import s.implicits._
      val name = "x51_stream_sessions"
      // the stream runs on a CLONED session (shared SparkContext, its
      // own SessionState) so the streaming-specific confs below never
      // leak into queries sharing the harness session — previously they
      // were set/restored on the global session, which was safe only
      // under the serial driver
      val ss = s.newSession()
      // unlike Tables.events (eager batch schema), the file-stream source
      // deserializes per micro-batch — the conf must outlive the query
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the state-op partition count is FIXED at query start (each
      // partition is a state store the commit phase must snapshot every
      // micro-batch); 8 stores amortize far better than 32 on this
      // 2-batch bounded run, and the checkpoint is fresh per call so no
      // restart compatibility is at stake. A long-lived production
      // stream sizes this to its key cardinality instead.
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val raw = Tables.parquet(ss, s"$d/events.parquet").schema
      // a file stream ingests a DIRECTORY (the landing-zone shape);
      // the single-file table is linked into a scratch dir to stand in
      // for one arrived batch of files
      val landing = sinkScratch("x51_landing")
      linkIntoLanding(landing, java.nio.file.Paths.get(d, "events.parquet"))
      // ts arrives either as a raw nanos long (legacy TIMESTAMP(NANOS)
      // layout, surfaced by the nanosAsLong conf above) or as
      // TIMESTAMP(MICROS) NTZ (current testdata) — normalize both to
      // TimestampType, mirroring Tables.eventsRaw for the batch side
      val tsNorm = raw("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast("timestamp")
      }
      val src = ss.readStream.schema(raw).parquet(landing)
        .withColumn("ts", tsNorm)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"),
          round(col("value") * 100, 0).as("value"))
        .as[graft.streaming.EventStream.SessionIn]
      val q = graft.streaming.EventStream.sessionize(ss, src)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", sinkScratch("x51"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the oracle's watermark arithmetic assumes EVERY event lands in
      // micro-batch 0 (a later data batch would see an advanced
      // watermark: below-watermark rows dropped, gap closure changed —
      // a data-dependent divergence from the SQL twin). Fail loudly if
      // the source ever splits the landing dir across data batches.
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"x51 oracle parity requires exactly one data micro-batch, got " +
          s"$dataBatches — landing-dir batching changed?")
      // memory-sink temp view lives in the CLONE's catalog; drain it to
      // scratch + drop so bench reps don't accumulate sink copies
      drainMemorySink(s, ss, name,
        ss.table(name).select(col("user_id"), col("n_events"),
          col("duration_min"), (col("total_value") / 100.0).as("total_value")))
    }),
    // STREAMING curation under the oracle (x51's pattern applied to the
    // CorpusStream path): the real redact→gate→watermarked-dedup stream
    // (stateful dropDuplicatesWithinWatermark) run to completion with
    // AvailableNow over a landing dir of documents-with-PII. WHICH
    // arrival survives a duplicate fingerprint is state-arrival-order
    // dependent (partition-race), so the driver-visible result is the
    // FINGERPRINT SET — invariant under arrival order, and exactly the
    // distinct-fingerprint set of the gated corpus, which the SQL twin
    // rebuilds from the x41 gate CTEs. Event time is synthesized from
    // doc_id (documents carry none); with one data batch the watermark
    // drops nothing and only evicts state in the final no-data batch —
    // pinned by the same single-batch assert as x51.
    "x52_stream_curation" -> ((s, d) => {
      import s.implicits._
      val name = "x52_stream_curation"
      val ss = s.newSession()
      // 8 state stores, same sizing rationale as x51
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val raw = Tables.parquet(ss, s"$d/documents.parquet").schema
      val landing = sinkScratch("x52_landing")
      linkIntoLanding(landing, java.nio.file.Paths.get(d, "documents.parquet"))
      // synthetic event time BOUNDED to one day: ts only orders state
      // eviction (the result is the ts-independent fingerprint set), and
      // an unbounded `base + doc_id` overflows timestamp_seconds'
      // internal ×1e6 on 63-bit avalanche ids (caught by the first
      // full-table ScaleGenV2 smoke — shipped ids are small)
      val src = ss.readStream.schema(raw).parquet(landing)
        .select(col("doc_id"), piiText)
        .select(col("doc_id"),
          timestamp_seconds(lit(1704067200L) + pmod(col("doc_id"), lit(86400L)))
            .as("ts"),
          col("text"))
      val q = graft.streaming.CorpusStream.curate(src, lateness = "1 hour")
        .select("fingerprint")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", sinkScratch("x52"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"x52 oracle parity requires exactly one data micro-batch, got " +
          s"$dataBatches — landing-dir batching changed?")
      drainMemorySink(s, ss, name, ss.table(name).select("fingerprint"))
    }),
    // Spark 4 variant shredding: schema-flexible parse_json +
    // variant_get — the modern path for payloads whose schema drifts
    "q38_variant_shred" -> ((s, d) =>
      ev(s, d).select(
        col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))),
    // deterministic class-rebalancing sample: keep all errors/signups,
    // 10% of clicks, 5% of everything else — arithmetic-hash keyed so
    // the oracle reproduces the exact row set
    "x24_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(ev(s, d), "event_type", "event_id",
          rates = Map("error" -> 100, "signup" -> 100, "click" -> 10),
          defaultRate = 5)
        .groupBy("event_type").agg(count(lit(1)).as("n_kept"))),
    // deterministic 80/10/10 train/val/test split: the pure Knuth-spread
    // bucket of doc_id → a stable per-doc label; no rand(), no engine
    // hash — re-materializing the corpus never moves a doc across the
    // eval boundary. Map-only, pipelines in the scan stage
    "x66_split_assign" -> ((s, d) =>
      Sampling.splitAssign(
        docs(s, d).select("doc_id", "lang", "source"), "doc_id")),

    // filter-only scan revenue (predicate pushdown showcase): all three
    // predicates reach the parquet reader, sum in exact decimal
    "q24_filter_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))),

    // semi join: customers with at least one open order (EXISTS)
    "q25_semi_join" -> ((s, d) => {
      val open = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      Tables.customer(s, d)
        .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),

    // exact distinct counting per group (COUNT(DISTINCT))
    "q26_distinct_users" -> ((s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"))),

    // HLL++ approximate distinct vs exact — the sketch-based scale path.
    // The sketch VALUE differs across engines, so the invariant is
    // enforced in-plan instead: approx_ok = |approx-exact| ≤ 5%·exact,
    // and the oracle expects literal TRUE — if the sketch ever drifts,
    // the hash compare fails loudly rather than hiding behind rows-only
    "x19_approx_distinct" -> ((s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"),
          approx_count_distinct("user_id", 0.02).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.05).as("approx_ok"))),

    // sketch-quantile gate: approx_percentile (the KLL-style 100 TB
    // quantile path) must land within the exact p5/p95 neighborhood —
    // in-plan invariant, literal-TRUE oracle (same pattern as x19/x27)
    "x29_approx_percentile" -> ((s, d) =>
      ev(s, d).filter(col("value").isNotNull)
        .agg(
          expr("percentile(value, 0.05)").as("__p5"),
          expr("percentile(value, 0.95)").as("__p95"),
          expr("approx_percentile(value, 0.05, 1000)").as("__a5"),
          expr("approx_percentile(value, 0.95, 1000)").as("__a95"),
          count(lit(1)).as("n"))
        .select(col("n"),
          (abs(col("__a5") - col("__p5")) <=
            (col("__p95") - col("__p5")) * 0.02).as("p5_ok"),
          (abs(col("__a95") - col("__p95")) <=
            (col("__p95") - col("__p5")) * 0.02).as("p95_ok"))),

    // rollup over the pricing keys — multi-level aggregate in one pass
    "q23_rollup_counts" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))),

    // cube: all grouping-set combinations in one pass
    "q39_cube_counts" -> ((s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))),

    // window-function surface beyond row_number: lag/lead deltas, dense
    // rank, quartile bucket — per-user event analytics
    "q40_window_analytics" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val byValue = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      ev(s, d).filter(col("value").isNotNull).select(
        col("event_id"), col("user_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
          .as("us_since_prev"),
        lead(col("event_id"), 1).over(byUser).as("next_event_id"),
        dense_rank().over(byValue).as("value_rank"),
        ntile(4).over(byValue).as("value_quartile"))
    }),

    // pivot: one column per status, reference's wide-mart shape
    "q41_status_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
          col("o_orderstatus"))
        .groupBy("order_month")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        // empty pivot cells are NULL in Spark but 0 under a FILTER count
        .select(col("order_month"), coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_filled"),
          coalesce(col("P"), lit(0L)).as("n_pending"))),

    // grouped exact interpolated percentiles (A1 lifted to per-group)
    "q42_grouped_percentiles" -> ((s, d) =>
      ev(s, d).filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          count(lit(1)).as("n"))),

    // as-of join: each error event enriched with the user's most recent
    // prior signup (composed union+window as-of; oracle = DuckDB ASOF
    // JOIN). The tiebreak pins OUR side on duplicate (user, ts) signups;
    // DuckDB's ASOF tie choice is unspecified, so if a fixture ever
    // grows such ties this becomes a known compare hazard (none exist
    // today — verified)
    "x14_asof_join" -> ((s, d) => {
      val events = ev(s, d)
      val errors = events.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val signups = events.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
      AsofJoin.asofBackward(errors, signups, Seq("user_id"),
          "ts", "ts", Seq("signup_event_id"), suffix = "",
          rightTieBreak = Seq("signup_event_id"))
        .select(col("event_id"), col("user_id"), col("signup_event_id"))
    }),

    // skew-resistant two-phase aggregate (same result as a plain groupBy)
    "x15_salted_daily" -> ((s, d) =>
      Skew.saltedAvg(
        ev(s, d).select(to_date(col("ts")).as("day"), col("value")),
        Seq("day"), "value", exactCents = true)),

    // banded range join (no cross join): parts within ±5.0 retail price
    "x16_range_join" -> ((s, d) =>
      RangeJoin.rangeMatchCounts(Tables.part(s, d), "p_partkey", "p_retailprice", 5.0)),

    // ---- north-star extensions: multimodal plumbing ----
    "x13_multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(s, Multimodal.withPayload(docs(s, d), "doc_id", "text")).toDF()),

    // binary → fake-embed → cosine top-k: the multimodal retrieval path
    // end-to-end (decode stubbed; Spark plumbing real). The fake embed
    // is exact-integer arithmetic, so the ORACLE re-derives the vectors
    // byte-for-byte (round 5 — was rows-only). The embedded frame is cached: the
    // broadcast query side and the corpus side of cosineTopK both read
    // it, and uncached each re-runs the mapPartitions embed of the whole
    // corpus (measured 0.73s → 3.13s). Lifecycle: harness-owned
    // (Bench/Verify clearCache between queries).
    "x17_multimodal_topk" -> ((s, d) => {
      val emb = Multimodal.fakeEmbed(s,
        Multimodal.withPayload(docs(s, d), "doc_id", "text"),
        dim = fakeEmbedDim).toDF().cache()
      Similarity.cosineTopK(emb, "doc_id", "embedding",
        fixedCountPred(docs(s, d), "doc_id", target = 50), k = 3)
    }),

    // resize plumbing: byte-subsample payloads to a budget; the oracle
    // checks the exact output-size arithmetic (ceil-step subsampling)
    "q43_resize_stub" -> ((s, d) => {
      val media = Multimodal.withPayload(docs(s, d), "doc_id", "text")
      val resized = Multimodal.resizeStub(s, media, target = 64).toDF()
      media.select(col("doc_id"), length(col("payload")).cast("long").as("orig_bytes"))
        .join(resized.select(col("doc_id"),
          length(col("payload")).cast("long").as("resized_bytes")), Seq("doc_id"))
    }),
    // frame sampling fan-out: per-doc frame counts (rows-only check)
    "x18_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(s,
          Multimodal.withPayload(docs(s, d), "doc_id", "text")).toDF()
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame_bytes"))).as("total_bytes"))),

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
    // The invariant holds for the driver's fixtures at every sf and is
    // spec-pinned (FixtureInvariantSpec fails loudly if a future
    // fixture breaks it).
    "x48_frame_dedup" -> ((s, d) => {
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
    }),

    // ---- training-data curation additions ----
    // benchmark decontamination: docs with doc_id % 20 == 0 stand in for
    // the eval set; training docs sharing any word 8-gram with it are
    // reported with their shared-gram count (the 13-gram-overlap guard
    // against test-set leakage, n scaled to these shorter fixtures)
    "x36_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      Decontaminate.report(
        all.filter(col("doc_id") % 20 =!= 0),
        all.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = 8)
    }),
    // eval-side coverage — x36 looked from the train side ("is this
    // train doc contaminated"); this is the fractional report the eval
    // owner reads: per eval doc, what share of its 8-grams the training
    // corpus contains verbatim (seen_frac ≈ 1 = memorization-reachable
    // even after doc-level decontamination)
    "x83_eval_coverage" -> ((s, d) => {
      val all = docs(s, d)
      Decontaminate.coverage(
        all.filter(col("doc_id") % 20 =!= 0),
        all.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = dupGramK)
    }),
    // bloom-gated decontamination — x36's 100 TB spelling: the eval gram
    // index collapses to a 32 KB broadcast bit array, training grams are
    // screened map-side in the scan stage, and only bloom-hit grams
    // reach the exact-confirm join. Portable md5-base bit positions, so
    // the oracle rebuilds the identical array and replays membership —
    // n_bloom (FPs included) is hash-checked, and n_shared must equal
    // x36's exact count for every flagged doc (no false negatives)
    "x64_bloom_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      Decontaminate.bloomReport(
        all.filter(col("doc_id") % 20 =!= 0),
        all.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = dupGramK,
        mBits = bloomMBits, bloomK = bloomHashes)
    }),
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
    "x69_semantic_decontaminate" -> ((s, d) => {
      val emb = Multimodal.fakeEmbedInt(s,
        Multimodal.withPayload(docs(s, d), "doc_id", "text"),
        dim = fakeEmbedDim).toDF()
      val evalPred = fixedCountPred(emb, "doc_id", semDecontamEvalTarget)
      Similarity.semanticDecontaminate(
        emb.filter(!evalPred),
        emb.filter(evalPred),
        "doc_id", "embedding", threshold = semDedupThreshold)
    }),
    // BM25 lexical top-k retrieval: query docs (fixed-count sample)
    // against the whole corpus over a df-capped inverted index —
    // rational idf + fixed-point contributions keep every score an
    // exact integer both engines replay (see text.Retrieval for the
    // two documented deviations from the textbook formula)
    "x70_bm25_topk" -> ((s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac)),
    // BM25 top-k, auto-routed on corpus size and scratch budget (see the
    // route table in text.Retrieval): every harness corpus sits below
    // the measured 250k-doc crossover, so this runs the plain exact
    // join; output is route-invariant, so the oracle needs no replay of
    // the rule
    "x86_bm25_wand" -> ((s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Auto(docsCount(s, d)),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac)),
    // the Impact route forced: x86 never reaches it on a harness
    // corpus, so this entry keeps it under oracle replay (and under
    // Bench's sf0.001 warm pass)
    "x87_bm25_wand_forced" -> ((s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Impact(),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac)),
    // the Batched route forced at [bmBatches]: the shape a >5M-docs-
    // per-node deployment runs, kept under oracle replay
    "x89_bm25_batched" -> ((s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Batched(bmBatches),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac)),
    // Auto's scratch branch forced: a budget of half the estimate for
    // the corpus at hand makes Auto pick 2 batches at every harness
    // corpus, where the default 48 GiB budget never engages
    "x92_bm25_auto_scratch" -> ((s, d) => {
      val n = docsCount(s, d)
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        fixedCountPred(docs(s, d), "doc_id", bmQueryTarget),
        route = Bm25Route.Auto(n, bmQueryTarget, math.max(1L,
          Retrieval.bm25ScratchEstimateMb(n, bmQueryTarget) / 2)),
        k1 = bmK1, b = bmB, k = bmK, maxDfFrac = bmDfFrac)
    }),
    // hybrid retrieval: the x70 sparse (BM25) and x05 dense (brute
    // cosine) rankers run over the doc∩vec corpus (doc_id = vec_id)
    // with ONE shared query sample, fused by reciprocal-rank fusion —
    // rank-only integer contributions, so the fused list hashes
    // cross-engine (see Retrieval.rrfFuse)
    "x77_rrf_fusion" -> ((s, d) => {
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
    }),
    // token-budget selection: fill each domain's training budget with
    // its best docs (quality-ranked prefix walk over cumulative token
    // mass) — the mass-based counterpart of x55's count cap; one
    // domain-keyed exchange, integer-exact throughout
    "x71_token_budget_select" -> ((s, d) =>
      Sampling.tokenBudgetSelect(docs(s, d), "doc_id", "text", "source",
        budget = tokenBudget)),
    // BPE pair counting (tokenizer-training step 1): corpus pays one
    // token explode into a word-frequency table; pair extraction runs
    // over the VOCABULARY weighted by freq — the standard BPE-trainer
    // trick, integer-exact, rank-replayed by the oracle
    "x72_bpe_pair_counts" -> ((s, d) =>
      TextAnalysis.bpePairCounts(docs(s, d), "doc_id", "text",
        topN = bpeTopN)),
    // DSIR importance selection (Xie et al. 2023): hashed unigram+bigram
    // model of target (lang='en') vs raw, integer micro-prob weights,
    // top-k most-target-like docs; the weight table is BUCKET-bounded
    // (broadcast stays free at any corpus size)
    "x73_dsir_select" -> ((s, d) =>
      Dsir.dsirSelect(docs(s, d), "doc_id", "text",
        targetPred = col("lang") === "en",
        buckets = dsirBuckets, k = dsirK)),
    // CCNet-style LM triage (Wenzek et al. 2020): unigram target-LM
    // score in exact micro-probs, corpus split head/middle/tail at the
    // exact score tertiles (the q01 percentile-bounds pattern)
    "x74_ccnet_buckets" -> ((s, d) =>
      CcNet.ccnetBuckets(docs(s, d), "doc_id", "text",
        targetPred = col("lang") === "en")),
    // BPE tokenizer TRAINING (x72's full merge loop): k rounds of
    // argmax-pair + greedy re-segmentation, all on the vocabulary
    // frame; the oracle re-learns the identical merge sequence from
    // an unrolled CTE chain
    "x75_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(docs(s, d), "doc_id", "text",
        merges = bpeMerges)),
    // BPE APPLICATION: segment the corpus with the trained tokenizer —
    // the corpus explodes once and looks its words' segmentations up
    // in the broadcast (already-segmented) vocabulary
    "x76_bpe_segment" -> ((s, d) =>
      TextAnalysis.bpeSegment(docs(s, d), "doc_id", "text",
        merges = bpeMerges)),
    // sequence packing: concatenate docs into 512-token training
    // sequences, packed independently per shard (doc_id % 8) — the
    // shard-local window is the only shuffle, and shard count is the
    // scale-out knob
    "x37_pack_sequences" -> ((s, d) =>
      Packing.packSequences(docs(s, d), "doc_id", "text",
        budget = 512, shards = 8)),
    // shuffle-shard export: every doc gets a reproducible pseudo-random
    // (shard, position) — the loader-facing global shuffle, one shard
    // shuffle + per-shard sort (see ops.Sharding); portable Knuth
    // arithmetic so the oracle replays the exact layout
    "x54_shuffle_shard" -> ((s, d) =>
      Sharding.shuffleShard(docs(s, d), "doc_id", nShards = exportShards)),
    // PII scrub: deterministic synthetic PII (email / IPv4 / phone built
    // from doc_id) is appended to each doc, then detected and redacted;
    // the md5 of the redacted text proves the replacement byte-for-byte
    // against the oracle's RE2 twin
    "x38_pii_redact" -> ((s, d) =>
      Pii.redact(docsWithPii(s, d), "doc_id", "text")),
    // within-doc repetition: duplicate word-2-gram fraction, the
    // boilerplate/copy-loop quality signal
    "x39_repetition" -> ((s, d) =>
      TextAnalysis.repetition(docs(s, d), "doc_id", "text",
        n = 2, threshold = 0.2)),
    // quality gate for the multimodal top-k (x17, the one remaining
    // ungated rows-only path): x17 is EXACT brute force over the fake
    // embeds, so the engine-dependent surface is the float32 embed
    // values and the top-k mechanics — gate those with in-plan
    // invariants (unit-norm embeddings, exactly k rows per query,
    // rank-monotone sims, cosine within [-1, 1]), literal-TRUE oracle;
    // n_queries is cross-engine-counted. All aggregates coalesce to
    // vacuous TRUE on empty input (null compares, no division)
    "x40_multimodal_gate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Multimodal.fakeEmbed(s,
        Multimodal.withPayload(docs(s, d), "doc_id", "text")).toDF().cache()
      val dot = expr("aggregate(zip_with(embedding, embedding, " +
        "(a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)")
      val normOk = emb.agg(
        coalesce(max(abs(dot - 1.0)) < 1e-3, lit(true)).as("norm_ok"))
      // fixed-count query sample over the DOCS table (~50 at any sf):
      // keeps this gate's brute-force pass linear in corpus size
      val qp = fixedCountPred(docs(s, d), "doc_id", target = 50)
      val topk = Similarity.cosineTopK(emb, "doc_id", "embedding",
        qp, k = 3)
      val w = Window.partitionBy("qid").orderBy("rnk")
      val per = topk.withColumn("prev_sim", lag("sim", 1).over(w))
        .groupBy("qid").agg(count(lit(1)).as("cnt"),
          min("sim").as("min_sim"), max("sim").as("max_sim"),
          max(when(col("prev_sim").isNotNull &&
            col("sim") > col("prev_sim"), 1).otherwise(0)).as("ooo"))
      val gates = per.agg(
        coalesce(min("cnt") === 3 && max("cnt") === 3, lit(true)).as("shape_ok"),
        coalesce(max("ooo") === 0, lit(true)).as("order_ok"),
        coalesce(min("min_sim") >= -1.000001 &&
          max("max_sim") <= 1.000001, lit(true)).as("bounds_ok"))
      val nq = emb.filter(qp).agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(gates).crossJoin(normOk)
        .select("n_queries", "shape_ok", "norm_ok", "order_ok", "bounds_ok")
    }),
    // the flagship composition: the WHOLE training-data build in one
    // query — PII-redact → quality/lang/repetition gates → benchmark
    // decontamination (docs with doc_id % 20 == 0 stand in for the eval
    // set) → fingerprint dedup → 256-token sequence packing. The
    // injected PII suffixes are unique per doc BEFORE redaction and
    // identical after it, so the dedup and decontamination results are
    // only correct if the redaction stage actually ran — the stages are
    // semantically entangled, not just concatenated
    "x41_corpus_build" -> ((s, d) => {
      val withPii = docsWithPii(s, d)
      Curation.buildCorpus(
        withPii.filter(col("doc_id") % 20 =!= 0),
        withPii.filter(col("doc_id") % 20 === 0),
        "doc_id", "text")
    }),
    // corpus build v2: x41's stages + the two post-dedup passes the
    // round-9 operators add — duplicated-span removal (exact dedup only
    // catches whole-doc twins; shared spans survive it) and τ=2
    // temperature mixing over source — ending in the same packed layout.
    // The composed pipeline is oracle-replayed stage for stage
    "x81_corpus_build_v2" -> ((s, d) => {
      val withPii = docs(s, d).select(col("doc_id"), piiText, col("source"))
      Curation.buildCorpusV2(
        withPii.filter(col("doc_id") % 20 =!= 0),
        withPii.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", "source",
        spanK = dupGramK, tau = tempTau, mixBuckets = tempBuckets)
    }),
    // the "where did my corpus go" attrition funnel over x81's stages:
    // one row per stage, surviving docs + drop vs previous — the
    // observability report a production build publishes with its output
    "x82_curation_funnel" -> ((s, d) => {
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
    }),
    // bootstrap quality classifier: rule-label → bag-of-words affinity
    // weights → score every doc (the distill-a-heuristic pattern);
    // integer-exact arithmetic end to end, per-doc scores hash-checked
    "x50_quality_classifier" -> ((s, d) =>
      TextAnalysis.qualityClassifier(docs(s, d), "doc_id", "text")),
    // the curation dashboard: per-(source × quality × language) doc and
    // token totals with all cube rollups, from ONE corpus pass — the
    // monitoring query a corpus build publishes after every refresh.
    // min/max/sum are integer-exact (no float-average tie hazards)
    "x46_corpus_stats" -> ((s, d) =>
      docs(s, d).select(col("source"),
          TextAnalysis.qualityBucketCol(col("text")).as("quality_bucket"),
          TextAnalysis.predLangCol(col("text")).as("pred_lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .cube("source", "quality_bucket", "pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens"))),
    // token-mass domain mixing: rebalance weighted by token counts
    // instead of doc counts — the actual training-mixture contract (a
    // domain of few huge docs is as heavy as one of many small docs);
    // per-source total vs kept token mass, deterministic keep set
    "x45_token_mix" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val kept = Sampling.rebalanceBy(toks, "source", "doc_id",
          col("n_tokens"))
        .groupBy("source").agg(sum("n_tokens").as("kept_tokens"))
      toks.groupBy("source").agg(sum("n_tokens").as("total_tokens"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("total_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    }),
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
    "x44_incremental_curation" -> ((s, d) => {
      val all = docs(s, d)
      val old = Curation.curate(all.filter(col("doc_id") % 10 < 8),
        "doc_id", "text", keepPer100 = 100).cache()
      val fresh = Curation.curate(all.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", keepPer100 = 100)
      val admitted = Dedup.insertIfAbsent(fresh, old, Seq("fingerprint"))
      old.withColumn("is_new", lit(false))
        .unionByName(admitted.withColumn("is_new", lit(true)))
    }),
    // split-packing inventory: the faithful GPT packing where documents
    // split across sequence boundaries — every 512-token cut of the
    // shard stream is a sequence, docs contribute spans to every
    // sequence they overlap, and all seq_tokens are exactly 512 except
    // each shard's trailing partial (the oracle checks the exact values)
    "x43_pack_spans" -> ((s, d) =>
      Packing.packSpans(docs(s, d), "doc_id", "text",
        budget = 512, shards = 8)),
    // domain-mixture rebalancing: downsample every source to the
    // smallest source's size with data-derived rates — per-source
    // before/after counts prove the mixture came out uniform-ish and
    // the kept SET is pinned by the deterministic hash arithmetic
    "x42_domain_mix" -> ((s, d) => {
      val kept = Sampling.rebalance(docs(s, d), "source", "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      docs(s, d).groupBy("source").agg(count(lit(1)).as("n_before"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),
    // per-domain cap (FineWeb/Gopher "max K docs per host"): keep the
    // K token-richest docs per source, id-tiebroken — the hard-cap
    // counterpart of x42's proportional rebalance. Integer-exact score
    // (token count), so the oracle replays the full kept set
    "x55_domain_cap" -> ((s, d) =>
      Sampling.domainCap(docs(s, d), "doc_id", "source",
        size(TextAnalysis.tokens(col("text"))).cast("long"),
        k = domainCapK)),
    // temperature-scaled mixing (τ=2, the XLM/mT5 α=0.5 exponent) over
    // LANGUAGES — the literal multilingual-sampling use case, and the
    // one naturally-skewed domain facet in the fixtures (en dominates):
    // every lang keeps rate √(n_min/n_d) via the integer predicate
    // h²·n_d < n_min·B² — x42's uniform rebalance and the natural
    // distribution are the τ=1 / τ→∞ ends of the same knob. The full
    // kept SET is the output, pinned by the hash arithmetic
    "x78_temperature_mix" -> ((s, d) =>
      Sampling.temperatureSample(docs(s, d), "lang", "doc_id",
        tau = tempTau, buckets = tempBuckets)
        .select("doc_id", "lang"))
  )

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
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                             x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
       |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 3),
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
    s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS tk
        |  FROM documents),
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
        |         CAST(floor(
        |           ((CAST(q.n - q.df AS DOUBLE) + 0.5::DOUBLE)
        |             / (CAST(q.df AS DOUBLE) + 0.5::DOUBLE))
        |           * (CAST(tf.tf AS DOUBLE) * ${bmK1 + 1}::DOUBLE
        |              / (CAST(tf.tf AS DOUBLE)
        |                 + ${bmK1}::DOUBLE * (${1 - bmB}::DOUBLE
        |                     + ${bmB}::DOUBLE * CAST(tf.dl AS DOUBLE)
        |                       / (CAST(q.sl AS DOUBLE) / CAST(q.n AS DOUBLE)))))
        |           * 1e6) AS BIGINT) AS c
        |  FROM q JOIN tf USING (tid)
        |  WHERE tf.nid <> q.qid),
        |ag AS (SELECT qid, nid, CAST(sum(c) AS BIGINT) AS score
        |       FROM sc GROUP BY 1, 2),
        |r AS (SELECT qid, nid, score,
        |        CAST(row_number() OVER (PARTITION BY qid
        |               ORDER BY score DESC, nid ASC) AS BIGINT) AS rnk
        |      FROM ag)
        |SELECT qid, nid, score, rnk FROM r WHERE rnk <= $bmK""".stripMargin

  /** The x57 reps-near-dup oracle parameterized by the per-bucket
    * member cap — ONE text for the loose (x57, never engages at sf
    * scale) and tight (x91, engages on most buckets at sf0.01)
    * spellings, so the two entries cannot drift. Rep collapse (min-id
    * per identical vector), literal-plane banding, the row_number ≤ cap
    * kept-member rule, exact cosine verify, implied cross-twin counts.
    */
  private def nearDupRepsOracle(cap: Int): String =
    s"""WITH planes(t, b, plane) AS (VALUES ${lshPlanesSqlValues(8, 4, 64)}),
      |g AS (
      |  SELECT min(vec_id) AS rep_id, count(*)::BIGINT AS n_members,
      |         embedding AS vec0
      |  FROM embeddings GROUP BY embedding),
      |v AS (SELECT rep_id AS vec_id, vec0::DOUBLE[] AS vec FROM g),
      |bands0 AS (
      |  SELECT vec_id, t,
      |         bit_or(CASE WHEN list_dot_product(vec, plane) > 0
      |                     THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bucket
      |  FROM v, planes GROUP BY vec_id, t),
      |bands AS (
      |  SELECT vec_id, t, bucket FROM (
      |    SELECT vec_id, t, bucket,
      |           row_number() OVER (PARTITION BY t, bucket
      |                              ORDER BY vec_id ASC) AS __rn
      |    FROM bands0) WHERE __rn <= $cap),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bands a JOIN bands b ON a.t = b.t AND a.bucket = b.bucket
      |                            AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |         round(list_cosine_similarity(va.vec, vb.vec), 6) AS sim
      |  FROM cand c
      |  JOIN v va ON va.vec_id = c.id_a
      |  JOIN v vb ON vb.vec_id = c.id_b)
      |SELECT s.id_a, s.id_b, s.sim,
      |       ga.n_members * gb.n_members AS implied_pairs
      |FROM scored s
      |JOIN g ga ON ga.rep_id = s.id_a
      |JOIN g gb ON gb.rep_id = s.id_b
      |WHERE s.sim >= 0.25""".stripMargin

  /** The bucket-load truncation report parameterized the same way
    * (x88 loose / x90 tight).
    */
  private def nearDupBucketLoadOracle(cap: Int): String =
    s"""WITH planes(t, b, plane) AS (VALUES ${lshPlanesSqlValues(8, 4, 64)}),
      |g AS (
      |  SELECT min(vec_id) AS rep_id, embedding AS vec0
      |  FROM embeddings GROUP BY embedding),
      |v AS (SELECT rep_id AS vec_id, vec0::DOUBLE[] AS vec FROM g),
      |bands0 AS (
      |  SELECT vec_id, t,
      |         bit_or(CASE WHEN list_dot_product(vec, plane) > 0
      |                     THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bucket
      |  FROM v, planes GROUP BY vec_id, t)
      |SELECT t AS table_id, bucket, count(*)::BIGINT AS n_ids,
      |       least(count(*), $cap)::BIGINT AS n_kept
      |FROM bands0 GROUP BY t, bucket""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_iot_clean" ->
      """WITH base AS (
        |  SELECT event_id, ts::DATE AS day, value FROM events
        |  WHERE value IS NOT NULL AND trim(lower(event_type)) <> ''),
        |p AS (
        |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
        |         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
        |  FROM base)
        |SELECT event_id, day, value FROM base, p
        |WHERE value BETWEEN p_lo AND p_hi""".stripMargin,
    "q02_iot_daily" ->
      """WITH base AS (
        |  SELECT event_id, ts::DATE AS day, value FROM events
        |  WHERE value IS NOT NULL AND trim(lower(event_type)) <> ''),
        |p AS (
        |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
        |         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
        |  FROM base)
        |SELECT day,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*) + 0.5)
        |         / 100.0 AS avg_value,
        |       count(*) AS n
        |FROM base, p WHERE value BETWEEN p_lo AND p_hi GROUP BY day""".stripMargin,
    "q03_iot_top5_hot" ->
      """WITH base AS (
        |  SELECT ts::DATE AS day, value FROM events
        |  WHERE value IS NOT NULL AND trim(lower(event_type)) <> ''),
        |p AS (
        |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
        |         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
        |  FROM base),
        |daily AS (
        |  SELECT day,
        |         floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*) + 0.5)
        |           / 100.0 AS avg_value,
        |         count(*) AS n
        |  FROM base, p WHERE value BETWEEN p_lo AND p_hi GROUP BY day)
        |SELECT day, avg_value, n,
        |       CAST(row_number() OVER (ORDER BY avg_value DESC, day ASC) AS BIGINT) AS rnk
        |FROM daily ORDER BY avg_value DESC, day ASC LIMIT 5""".stripMargin,
    "q04_iot_top5_cold" ->
      """WITH base AS (
        |  SELECT ts::DATE AS day, value FROM events
        |  WHERE value IS NOT NULL AND trim(lower(event_type)) <> ''),
        |p AS (
        |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
        |         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
        |  FROM base),
        |daily AS (
        |  SELECT day,
        |         floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*) + 0.5)
        |           / 100.0 AS avg_value,
        |         count(*) AS n
        |  FROM base, p WHERE value BETWEEN p_lo AND p_hi GROUP BY day)
        |SELECT day, avg_value, n,
        |       CAST(row_number() OVER (ORDER BY avg_value ASC, day ASC) AS BIGINT) AS rnk
        |FROM daily ORDER BY avg_value ASC, day ASC LIMIT 5""".stripMargin,
    "q05_top_event_type" ->
      """SELECT user_id, event_type, cnt FROM (
        |  SELECT user_id, event_type, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY count(*) DESC, event_type ASC) AS rn
        |  FROM events GROUP BY user_id, event_type) t
        |WHERE rn = 1""".stripMargin,
    "q06_user_activity_mart" ->
      """WITH stats AS (
        |  SELECT user_id, count(*) AS n_events,
        |         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
        |         floor(sum(CAST(round(value * 100) AS BIGINT))
        |               / count(*) + 0.5) / 100.0 AS avg_value,
        |         count(DISTINCT ts::DATE) AS n_active_days
        |  FROM events GROUP BY user_id),
        |top AS (
        |  SELECT user_id, event_type AS top_event_type, cnt AS top_event_cnt FROM (
        |    SELECT user_id, event_type, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY count(*) DESC, event_type ASC) AS rn
        |    FROM events GROUP BY user_id, event_type) t WHERE rn = 1)
        |SELECT s.user_id, s.n_events, s.total_value, s.avg_value, s.n_active_days,
        |       top.top_event_type, top.top_event_cnt
        |FROM stats s LEFT JOIN top USING (user_id)""".stripMargin,
    "q07_order_status_mart" ->
      """SELECT date_trunc('month', o_orderdate)::DATE AS order_month,
        |       count(*) AS n_orders,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
        |       floor(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |             / count(o_totalprice) + 0.5) / 100.0 AS avg_price,
        |       round(min(o_totalprice), 2) AS min_price,
        |       round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q08_dedup_keep_first" ->
      """SELECT user_id, event_type, event_id AS first_event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "q09_insert_if_absent" ->
      """SELECT event_id, user_id, event_type FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events o
        |  WHERE o.event_id % 10 <> 0 AND o.event_id = e.event_id)""".stripMargin,
    "q10_incremental_daily" ->
      """WITH m AS (SELECT max(ts::DATE) - 7 AS cutoff FROM events)
        |SELECT ts::DATE AS day,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(value) + 0.5)
        |         / 100.0 AS avg_value,
        |       count(*) AS n
        |FROM events, m WHERE ts::DATE >= cutoff GROUP BY 1""".stripMargin,
    "q11_upsert_merge" ->
      """SELECT ts::DATE AS day,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(value) + 0.5)
        |         / 100.0 AS avg_value,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q32_upsert_bykey" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value FROM events WHERE event_id % 3 <> 0),
        |i AS (
        |  SELECT event_id, user_id, value * 2 AS value FROM events
        |  WHERE event_id % 2 = 0)
        |SELECT event_id, user_id, value FROM i
        |UNION ALL
        |SELECT e.event_id, e.user_id, e.value FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM i WHERE i.event_id = e.event_id)""".stripMargin,
    "q44_sink_truncate" ->
      """SELECT event_id, event_type, user_id FROM events""".stripMargin,
    "q46_sink_append_absent" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_id % 3 = 0 OR event_id % 2 = 0""".stripMargin,
    "q47_sink_upsert_reload" ->
      """SELECT event_id, event_type,
        |       CASE WHEN event_id % 4 = 0 THEN user_id + 1000
        |            ELSE user_id END AS user_id
        |FROM events
        |UNION ALL
        |SELECT event_id + 10000000, event_type, user_id FROM events
        |WHERE event_id % 5 = 1""".stripMargin,
    "q45_sink_overwrite_window" ->
      """SELECT ts::DATE AS day,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(value) + 0.5)
        |         / 100.0 AS avg_value,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q12_json_shred" ->
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) AS k
        |FROM events""".stripMargin,
    "q13_xml_shred" ->
      """SELECT p_partkey, p_name AS name_x, p_brand AS brand_x, p_size AS size_x
        |FROM part""".stripMargin,
    "q14_shred_pets" ->
      """SELECT * FROM (VALUES
        |  ('Rex', 'dog', 2019, 'rex.png', 2, 'beef;chicken'),
        |  ('Mia', 'cat', 2021, 'mia.png', 0, ''),
        |  ('Bub', 'fish', 2022, 'bub.png', 1, 'flakes'),
        |  ('Tom', 'cat', 2018, 'tom.png', 1, 'tuna'),
        |  ('Zoe', 'parrot', 2020, 'zoe.png', 1, '<strong>any</strong> food'))
        |AS t(name, species, birth_year, photo, n_foods, foods)""".stripMargin,
    "q27_clean_sessions" ->
      """WITH s AS (
        |  SELECT event_id AS session_id, user_id, ts AS start_time,
        |         ts + to_minutes(event_id % 2000 - 2) AS end_time,
        |         CASE WHEN event_id % 7 = 0 THEN NULL
        |              ELSE list_slice(string_split('home search product cart checkout', ' '),
        |                              1, CAST(event_id % 5 + 1 AS INT)) END AS pages_visited,
        |         CASE WHEN event_id % 11 = 0 THEN NULL
        |              ELSE list_slice(string_split('click scroll search purchase logout', ' '),
        |                              1, CAST(event_id % 4 + 1 AS INT)) END AS actions,
        |         string_split('mobile desktop tablet', ' ')[CAST(event_id % 3 + 1 AS INT)] AS device
        |  FROM events)
        |SELECT session_id, user_id, start_time::DATE AS session_date,
        |       round(epoch(end_time - start_time) / 60.0, 2) AS duration_min,
        |       CAST(CASE WHEN pages_visited IS NULL THEN 0 ELSE len(pages_visited) END AS INT) AS num_pages,
        |       CAST(CASE WHEN actions IS NULL THEN 0 ELSE len(actions) END AS INT) AS num_actions,
        |       device
        |FROM s
        |WHERE start_time < end_time
        |  AND end_time < start_time + INTERVAL 24 HOURS""".stripMargin,
    "q28_mart_user_activity" ->
      """WITH s AS (
        |  SELECT event_id AS session_id, user_id, ts AS start_time,
        |         ts + to_minutes(event_id % 2000 - 2) AS end_time,
        |         CASE WHEN event_id % 7 = 0 THEN NULL
        |              ELSE list_slice(string_split('home search product cart checkout', ' '),
        |                              1, CAST(event_id % 5 + 1 AS INT)) END AS pages_visited,
        |         CASE WHEN event_id % 11 = 0 THEN NULL
        |              ELSE list_slice(string_split('click scroll search purchase logout', ' '),
        |                              1, CAST(event_id % 4 + 1 AS INT)) END AS actions,
        |         string_split('mobile desktop tablet', ' ')[CAST(event_id % 3 + 1 AS INT)] AS device
        |  FROM events),
        |c AS (
        |  SELECT user_id, date_trunc('month', start_time::DATE)::DATE AS report_month,
        |         round(epoch(end_time - start_time) / 60.0, 2) AS duration_min,
        |         CASE WHEN pages_visited IS NULL THEN 0 ELSE len(pages_visited) END AS num_pages,
        |         CASE WHEN actions IS NULL THEN 0 ELSE len(actions) END AS num_actions,
        |         device, pages_visited, actions
        |  FROM s
        |  WHERE start_time < end_time
        |    AND end_time < start_time + INTERVAL 24 HOURS),
        |stats AS (
        |  SELECT user_id, report_month, count(*) AS sessions_count,
        |         sum(CAST(round(duration_min * 100) AS BIGINT)) / 100.0 AS total_duration_min,
        |         floor(sum(CAST(round(duration_min * 100) AS BIGINT))
        |               / count(duration_min) + 0.5) / 100.0 AS avg_duration_min,
        |         CAST(sum(num_pages) AS BIGINT) AS total_pages,
        |         floor(sum(num_actions * 100) / count(num_actions) + 0.5) / 100.0 AS avg_actions
        |  FROM c GROUP BY 1, 2),
        |td AS (
        |  SELECT user_id, report_month, device AS top_device FROM (
        |    SELECT user_id, report_month, device,
        |           row_number() OVER (PARTITION BY user_id, report_month
        |                              ORDER BY count(*) DESC, device ASC) AS rn
        |    FROM c GROUP BY user_id, report_month, device) t WHERE rn = 1),
        |tp AS (
        |  SELECT user_id, report_month, page_val AS top_page FROM (
        |    SELECT user_id, report_month, page_val,
        |           row_number() OVER (PARTITION BY user_id, report_month
        |                              ORDER BY count(*) DESC, page_val ASC) AS rn
        |    FROM c, UNNEST(pages_visited) AS u(page_val)
        |    GROUP BY user_id, report_month, page_val) t WHERE rn = 1),
        |ta AS (
        |  SELECT user_id, report_month, action_val AS top_action FROM (
        |    SELECT user_id, report_month, action_val,
        |           row_number() OVER (PARTITION BY user_id, report_month
        |                              ORDER BY count(*) DESC, action_val ASC) AS rn
        |    FROM c, UNNEST(actions) AS u(action_val)
        |    GROUP BY user_id, report_month, action_val) t WHERE rn = 1)
        |SELECT s.user_id, s.report_month, sessions_count, total_duration_min,
        |       avg_duration_min, total_pages, avg_actions,
        |       top_device, top_page, top_action
        |FROM stats s
        |LEFT JOIN td USING (user_id, report_month)
        |LEFT JOIN tp USING (user_id, report_month)
        |LEFT JOIN ta USING (user_id, report_month)""".stripMargin,
    "q29_support_efficiency" ->
      """WITH t AS (
        |  SELECT o_orderkey AS ticket_id, o_custkey AS user_id,
        |         string_split('open closed pending resolved', ' ')[CAST(o_orderkey % 4 + 1 AS INT)] AS status,
        |         string_split('billing technical account delivery', ' ')[CAST((o_orderkey // 4) % 4 + 1 AS INT)] AS issue_type,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE list_slice(string_split('m1 m2 m3 m4 m5', ' '),
        |                              1, CAST(o_orderkey % 5 + 1 AS INT)) END AS messages,
        |         o_orderdate AS created_at,
        |         o_orderdate + to_hours(o_orderkey % 100 - 3) AS updated_at
        |  FROM orders),
        |c AS (
        |  SELECT date_trunc('month', created_at)::DATE AS report_month, issue_type, status,
        |         CASE WHEN messages IS NULL THEN 0 ELSE len(messages) END AS message_count,
        |         round(epoch(updated_at - created_at) / 3600.0, 2) AS resolution_hours
        |  FROM t WHERE created_at <= updated_at)
        |SELECT report_month, issue_type,
        |       count(*) AS tickets_count,
        |       CAST(sum(CASE WHEN status = 'open' THEN 1 ELSE 0 END) AS BIGINT) AS open_count,
        |       CAST(sum(CASE WHEN status = 'closed' THEN 1 ELSE 0 END) AS BIGINT) AS closed_count,
        |       CAST(sum(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS BIGINT) AS pending_count,
        |       CAST(sum(CASE WHEN status = 'resolved' THEN 1 ELSE 0 END) AS BIGINT) AS resolved_count,
        |       floor(sum(CAST(round(resolution_hours * 100) AS BIGINT))
        |             / count(resolution_hours) + 0.5) / 100.0 AS avg_resolution_hours,
        |       round(min(resolution_hours), 2) AS min_resolution_hours,
        |       round(max(resolution_hours), 2) AS max_resolution_hours,
        |       floor(sum(message_count * 100) / count(message_count) + 0.5) / 100.0 AS avg_messages
        |FROM c GROUP BY 1, 2""".stripMargin,
    "q33_clean_event_logs" ->
      """SELECT event_id, event_type,
        |       '/page/' || CAST(event_id % 20 AS VARCHAR) AS page,
        |       CAST(user_id AS VARCHAR) AS user_id,
        |       CASE WHEN event_id % 5 = 0
        |            THEN CAST(event_id % 7 + 500 AS INT) END AS error_code,
        |       ts::DATE AS event_date
        |FROM events WHERE event_id % 10 <> 0""".stripMargin,
    "q34_pets_ids" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Bub', 'fish', 2022, 'bub.png'),
        |  (CAST(2 AS BIGINT), 'Mia', 'cat', 2021, 'mia.png'),
        |  (CAST(3 AS BIGINT), 'Rex', 'dog', 2019, 'rex.png'),
        |  (CAST(4 AS BIGINT), 'Tom', 'cat', 2018, 'tom.png'),
        |  (CAST(5 AS BIGINT), 'Zoe', 'parrot', 2020, 'zoe.png'))
        |AS t(pet_id, name, species, birth_year, photo)""".stripMargin,
    "q35_fixture_counts" ->
      """SELECT fixture, CAST(n AS BIGINT) AS n FROM (VALUES
        |  ('user_sessions', 2050), ('event_logs', 5100),
        |  ('support_tickets', 600), ('user_recommendations', 200),
        |  ('moderation_queue', 800))
        |AS t(fixture, n)""".stripMargin,
    "q36_csv_roundtrip" ->
      """SELECT event_id, event_type FROM events""".stripMargin,
    "q37_json_collection" ->
      """SELECT event_id, event_type, user_id, value FROM events""".stripMargin,
    "q30_nutrition_daily" ->
      """SELECT metric, units, CAST(value AS DOUBLE) AS value FROM (VALUES
        |  ('total-fat', 'g', 65), ('saturated-fat', 'g', 21),
        |  ('cholesterol', 'mg', 290), ('sodium', 'mg', 2400),
        |  ('carb', 'g', 300), ('fiber', 'g', 24), ('protein', 'g', 50))
        |AS t(metric, units, value)""".stripMargin,
    "q31_nutrition_foods" ->
      """SELECT name, mfr, serving, serving_units,
        |       CAST(calories_total AS INT) AS calories_total,
        |       CAST(calories_fat AS INT) AS calories_fat,
        |       CAST(total_fat AS DOUBLE) AS total_fat,
        |       CAST(saturated_fat AS DOUBLE) AS saturated_fat,
        |       CAST(cholesterol AS DOUBLE) AS cholesterol,
        |       CAST(sodium AS DOUBLE) AS sodium,
        |       CAST(carb AS DOUBLE) AS carb,
        |       CAST(fiber AS DOUBLE) AS fiber,
        |       CAST(protein AS DOUBLE) AS protein,
        |       CAST(vitamin_a AS DOUBLE) AS vitamin_a,
        |       CAST(vitamin_c AS DOUBLE) AS vitamin_c,
        |       CAST(mineral_ca AS DOUBLE) AS mineral_ca,
        |       CAST(mineral_fe AS DOUBLE) AS mineral_fe
        |FROM (VALUES
        |  ('Oat Rings', 'GrainCo', '1', ' cup', 110, 10,
        |   2, 0.5, 0, 190, 22.5, 3, 4, 25, 2, 10, 45),
        |  ('Berry Mix', 'FruitCo', '40', 'g', 140, 0,
        |   0, 0, 0, 5, 34, 2.5, 1, 0, 45, 2, 4))
        |AS t(name, mfr, serving, serving_units, calories_total, calories_fat,
        |     total_fat, saturated_fat, cholesterol, sodium, carb, fiber,
        |     protein, vitamin_a, vitamin_c, mineral_ca, mineral_fe)""".stripMargin,
    "q15_latest_event" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id DESC LIMIT 1""".stripMargin,
    "q16_explode_words" ->
      """SELECT p_partkey, word FROM (
        |  SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part) t
        |WHERE word IS NOT NULL AND word <> ''""".stripMargin,
    "q17_array_stats" ->
      """SELECT p_partkey,
        |       CAST(len(list_filter(string_split(p_name, ' '), x -> x <> ''))
        |         AS BIGINT) AS n_items,
        |       array_to_string(list_filter(string_split(p_name, ' '), x -> x <> ''),
        |         ';') AS joined
        |FROM part""".stripMargin,
    "q18_union_counts" ->
      """SELECT 'region' AS tbl, count(*) AS n FROM region
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |UNION ALL SELECT 'customer', count(*) FROM customer
        |UNION ALL SELECT 'part', count(*) FROM part""".stripMargin,
    "q19_typed_clean" ->
      """SELECT event_id, ts::DATE AS day, value AS temp FROM events""".stripMargin,
    "q20_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |       round(avg(l_quantity), 2) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q21_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate::DATE AS o_orderdate,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'AUTOMOBILE'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate::DATE
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q22_revenue_by_nation" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q26_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "q24_filter_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q25_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin,
    "q23_rollup_counts" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q39_cube_counts" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q40_window_analytics" ->
      """SELECT event_id, user_id,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS us_since_prev,
        |       lead(event_id, 1) OVER w AS next_event_id,
        |       CAST(dense_rank() OVER v AS INT) AS value_rank,
        |       CAST(ntile(4) OVER v AS INT) AS value_quartile
        |FROM events WHERE value IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       v AS (PARTITION BY user_id ORDER BY value DESC, event_id)""".stripMargin,
    "q41_status_pivot" ->
      """SELECT date_trunc('month', o_orderdate)::DATE AS order_month,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        |FROM orders GROUP BY 1""".stripMargin,
    "q42_grouped_percentiles" ->
      """SELECT event_type,
        |       percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p50,
        |       percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95,
        |       count(*) AS n
        |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin,
    "x14_asof_join" ->
      """WITH err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |sg AS (
        |  SELECT user_id, ts, event_id AS signup_event_id FROM events
        |  WHERE event_type = 'signup')
        |SELECT err.event_id, err.user_id, sg.signup_event_id
        |FROM err ASOF LEFT JOIN sg
        |  ON err.user_id = sg.user_id AND err.ts >= sg.ts""".stripMargin,
    "x15_salted_daily" ->
      """SELECT ts::DATE AS day, count(*) AS n,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(value) + 0.5)
        |         / 100.0 AS avg_value
        |FROM events GROUP BY 1""".stripMargin,
    "x16_range_join" ->
      """SELECT a.p_partkey, a.p_retailprice,
        |       count(b.p_partkey) AS n_within
        |FROM part a LEFT JOIN part b
        |  ON b.p_partkey <> a.p_partkey
        | AND b.p_retailprice BETWEEN a.p_retailprice - 5.0
        |                         AND a.p_retailprice + 5.0
        |GROUP BY a.p_partkey, a.p_retailprice""".stripMargin,
    "x01_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_hash,
        |       min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // df-capped (wordShingleDfCap) exactly like the Spark side: sizes
    // and the pair join both read the FILTERED index `sh`, so the
    // Jaccard ratio matches NearDup.jaccardPairsOver's capped spelling
    "x02_jaccard_pairs" ->
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
        |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= $mhThreshold""".stripMargin,
    // portable MinHash+LSH: DuckDB rebuilds the SAME md5-base affine
    // slot hashes and polynomial band keys (minhashPortablePairCtes), so
    // the banded candidate set — not just the Jaccard verification — is
    // cross-engine-checked
    "x03_minhash_lsh" ->
      s"""WITH $minhashPortablePairCtes
        |SELECT doc_a, doc_b, jaccard FROM p""".stripMargin,
    // portable SimHash: 60-bit md5-nibble signatures recomputed bit-for-
    // bit (strpos-decoded nibbles), then the same 15-bit chunk banding,
    // 200-doc hot cap, and Hamming <= 8 verification as the Spark side
    "x04_simhash_pairs" ->
      s"""WITH $simhashPortableCtes
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sx_c2 a JOIN sx_c2 b ON a.chunk_id = b.chunk_id
        |                         AND a.chunk_val = b.chunk_val
        |                         AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin,
    // production-vs-portable bucket-structure drift gate: the portable
    // candidate counts are cross-engine-checked (the oracle rebuilds
    // both banded structures), and the in-plan band predicates pin the
    // engine-hash twins (x03p/x04p murmur3/xxhash64 buckets) to within
    // a small factor of them — a murmur-side bucket-skew blowup, which
    // x33/x34's RECALL gates cannot see, fails the hash compare here
    "x58_prod_twin_drift" ->
      s"""WITH $minhashPortablePairCtes,
        |$simhashPortableCtes
        |SELECT (SELECT count(*) FROM cand) AS n_minhash_port,
        |       (SELECT count(*) FROM (
        |          SELECT DISTINCT a.doc_id, b.doc_id
        |          FROM sx_c2 a JOIN sx_c2 b ON a.chunk_id = b.chunk_id
        |                                   AND a.chunk_val = b.chunk_val
        |                                   AND a.doc_id < b.doc_id)) AS n_simhash_port,
        |       TRUE AS minhash_band_ok, TRUE AS simhash_band_ok""".stripMargin,
    "x27_ann_recall" ->
      s"""SELECT count(*) AS n_queries, TRUE AS mean_recall_ok
         |FROM embeddings
         |WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}""".stripMargin,
    // full IVF replay in SQL: integer byte-sum embeds (x17's CTEs),
    // Knuth-spread init, one integer floor-mean Lloyd pass, assignment /
    // probes / final top-k all via intCosSql — exact integers plus fixed
    // IEEE op sequences, so every stage is byte-identical to the Spark
    // plan (see Similarity.cosineTopKIvfInt)
    "x20i_ivf_int" ->
      s"""WITH ${ivfIntAssignCtes(ivfIntNlist.toString)},
        |q AS (SELECT doc_id AS qid, v AS qvec FROM vec
        |      WHERE ${fixedCountPredSql("documents", "doc_id", ivfIntTarget)}),
        |ps AS (
        |  SELECT q.qid, q.qvec, c1.cid, ${intCosSql("q.qvec", "c1.cvec")} AS csim
        |  FROM q, c1),
        |pr AS (
        |  SELECT qid, qvec, cid FROM (
        |    SELECT qid, qvec, cid,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY csim DESC, cid ASC) AS rn
        |    FROM ps) t WHERE rn <= $ivfIntNprobe),
        |sc AS (
        |  SELECT pr.qid, a2.doc_id AS nid,
        |         round(${intCosSql("pr.qvec", "a2.v")}, 6) AS sim
        |  FROM pr JOIN a2 ON a2.cid = pr.cid AND a2.doc_id <> pr.qid),
        |r AS (
        |  SELECT qid, nid, sim,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
        |  FROM sc)
        |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= $ivfIntK""".stripMargin,
    // kNN-graph replay: the HIERARCHICAL two-level chain (assignment
    // CTEs shared verbatim with x56), probes ranked inside each
    // vector's coarse cell, then x20i's probe/score/rank spellings —
    // the integer-IVF oracles cannot drift apart
    "x63_knn_graph" -> knnGraphHierOracleSql,
    // mutual-kNN communities: x63's full hierarchical kNN replay as a
    // nested subquery-CTE, thresholded, symmetrized by the reversed-key
    // self-join, closed by the x22 recursive component fold
    "x65_knn_communities" ->
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
        |cc_ed AS (SELECT doc_a AS src, doc_b AS dst FROM cc_m
        |          UNION SELECT doc_b, doc_a FROM cc_m),
        |cc_r AS (
        |  SELECT src AS id, src AS label FROM cc_ed
        |  UNION
        |  SELECT cc_ed.dst AS id, cc_r.label
        |  FROM cc_r JOIN cc_ed ON cc_ed.src = cc_r.id)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM cc_r GROUP BY id""".stripMargin,
    // SemDeDup replay: the SAME shared assignment CTEs as x20i, then
    // the within-cluster epsilon-ball drop rule — a doc is dropped iff
    // a lower-id cluster-mate reaches the cosine threshold (round-6dp,
    // the proven cross-engine float-compare idiom)
    "x53_semantic_dedup" -> semDedupFlatOracleSql,
    // hierarchical replay: Knuth seeds at BOTH levels, fine→coarse and
    // vector→coarse argmax, cell-restricted fine assignment before and
    // after the floor-mean Lloyd pass (refined centroids inherit their
    // seed's cell; a1-empty cids drop out of c1 on both engines), then
    // the same epsilon-ball drop rule. Shape bounds = the catalog's
    // exact IEEE ceil/sqrt sequences as scalar subqueries.
    "x56_semantic_dedup_hier" -> semDedupHierOracleSql,
    // auto-shape replay: the SAME two chains, each behind the count
    // crossover predicate — exactly one branch emits rows, mirroring
    // CellShape.auto's branch rule
    "x59_semantic_dedup_auto" ->
      s"""SELECT doc_id, cid, kept FROM ($semDedupFlatOracleSql) f
        |WHERE (SELECT count(*) FROM documents) < $semHierCrossoverDocs
        |UNION ALL
        |SELECT doc_id, cid, kept FROM ($semDedupHierOracleSql) h
        |WHERE (SELECT count(*) FROM documents) >= $semHierCrossoverDocs""".stripMargin,
    // paragraph dedup replay: the same token-chunk paragraph derivation
    // (chunk width interpolated from paraChunkTokens — DuckDB slices are
    // inclusive, range() is exclusive), keep-first by (doc_id, pos) via
    // a window (equivalent to the engine's min-struct winners: (doc_id,
    // pos) is unique), ordered string_agg rebuild, LEFT JOIN totality
    "x60_paragraph_dedup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
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
        |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin,
    // boilerplate-removal replay: x60's paragraph derivation, then a
    // per-paragraph distinct-doc frequency join — kept = df within the
    // interpolated threshold, ALL occurrences of an over-threshold
    // paragraph dropped (no keep-first exception)
    "x62_boilerplate_rm" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
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
        |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin,
    // duplicated-gram replay: x36's shingle dialect at width dupGramK,
    // keyed on the 15-nibble md5 prefix — the oracle groups by the HEX
    // prefix itself where Spark groups by its decoded 60-bit long
    // (NearDup.portableBase); the decode is a bijection on 15-nibble
    // strings, so the equivalence classes (and thus every count) are
    // identical, collisions included. Gram doc-frequency join, FILTER
    // rollup, LEFT JOIN totality
    "x61_dupgram_profile" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
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
        |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin,
    // x79: positioned grams (occurrence-counted, NOT distinct-per-doc)
    // keyed on the 15-nibble md5 prefix (bijective with SpanDedup's
    // decoded 60-bit portableBase — same equivalence classes, same
    // collisions), covered positions exploded from dup starts,
    // NOT-EXISTS survivor rebuild ordered by position — mirrors
    // SpanDedup step for step
    "x79_span_dedup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
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
        |FROM toks b LEFT JOIN nc USING (doc_id) LEFT JOIN rb USING (doc_id)""".stripMargin,
    "x35_lsh_ann_recall" ->
      s"""SELECT count(*) AS n_queries, TRUE AS recall_ok
         |FROM embeddings
         |WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}""".stripMargin,
    "x47_pq_recall" ->
      s"""SELECT count(*) AS n_queries, TRUE AS recall_ok
         |FROM embeddings
         |WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}""".stripMargin,
    "x49_ivfpq_recall" ->
      s"""SELECT count(*) AS n_queries, TRUE AS recall_ok
         |FROM embeddings
         |WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}""".stripMargin,
    // ONE truth-set definition for both banded-path recall gates: the
    // count of exact word-3-shingle pairs at jaccard ≥ 0.5 (gate
    // threshold+margin). Shared constant, not pasted twice — a change to
    // the shingle model or the rounding idiom cannot de-sync the gates.
    "x33_minhash_recall" -> exactPairsGateSql,
    "x34_simhash_recall" -> exactPairsGateSql,
    "x29_approx_percentile" ->
      """SELECT count(*) AS n, TRUE AS p5_ok, TRUE AS p95_ok
        |FROM events WHERE value IS NOT NULL""".stripMargin,
    "x32_embed_neardup_recall" ->
      s"""WITH v AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec
        |  FROM embeddings
        |  WHERE ${fixedCountPredSql("embeddings", "vec_id", 200)})
        |SELECT count(*) AS n_pairs, TRUE AS recall_ok
        |FROM v a JOIN v b ON a.id < b.id
        |WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= 0.25""".stripMargin,
    "x40_multimodal_gate" ->
      s"""SELECT count(*) AS n_queries, TRUE AS shape_ok, TRUE AS norm_ok,
         |       TRUE AS order_ok, TRUE AS bounds_ok
         |FROM documents
         |WHERE ${fixedCountPredSql("documents", "doc_id", 50)}""".stripMargin,
    // the full corpus build: every stage's DuckDB twin composed in CTE
    // order (redact → signals → gates → decontaminate → dedup → pack),
    // byte-exact because each piece is the already-proven x38/x26/x39/
    // x36/x37 oracle dialect
    "x41_corpus_build" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(
        |           text || ' contact user' || doc_id || '@mail.example.com ip 10.'
        |             || (doc_id % 250) || '.0.' || (doc_id % 100)
        |             || ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'),
        |           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |           '\+\d[\d-]{6,14}\d', '<PHONE>', 'g') AS text
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks,
        |         length(text) AS n_chars,
        |         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        |  FROM p),
        |g AS (
        |  SELECT doc_id, fingerprint, toks,
        |    len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS en_hits,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS de_hits,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr_hits,
        |    len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS es_hits,
        |    CASE WHEN len(toks) < 5 THEN 'too_short'
        |         WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
        |         ELSE 'ok' END AS quality_bucket,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)),
        |                          i -> array_to_string(toks[i:i+1], ' '))
        |      ELSE []::VARCHAR[] END AS grams
        |  FROM e),
        |gate AS (
        |  SELECT doc_id, fingerprint, toks FROM g
        |  WHERE doc_id % 20 <> 0
        |    AND quality_bucket = 'ok'
        |    AND CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |             WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |             WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |             WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |             ELSE 'es' END = 'en'
        |    AND NOT (len(grams) <> 0 AND
        |             round(1 - len(list_distinct(grams))::DOUBLE / len(grams), 4) >= 0.2)),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS shingle
        |  FROM e, UNNEST(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
        |contam AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
        |  WHERE s.doc_id % 20 <> 0),
        |dd AS (
        |  SELECT doc_id, toks,
        |         row_number() OVER (PARTITION BY fingerprint
        |                            ORDER BY doc_id ASC) AS rn
        |  FROM gate
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |tk AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM dd WHERE rn = 1),
        |a AS (
        |  SELECT doc_id, n_tokens, doc_id % 8 AS shard,
        |         sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens AS start_tok
        |  FROM tk)
        |SELECT shard, (start_tok // 256)::BIGINT AS seq_id,
        |       count(*) AS n_docs, sum(n_tokens)::BIGINT AS seq_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY 1, 2""".stripMargin,
    // x81: x41's chain through the fingerprint dedup (dd), then the x79
    // span-removal CTEs over the survivors, the x78 τ=2 mix over
    // source, and the same packing window over the span-cleaned counts.
    // The chain itself is [[corpusV2Ctes]], shared with the x82 funnel
    "x81_corpus_build_v2" ->
      s"""WITH $corpusV2Ctes,
        |a AS (
        |  SELECT doc_id, n_clean AS n_tokens, doc_id % 8 AS shard,
        |         sum(n_clean) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_clean AS start_tok
        |  FROM mixed)
        |SELECT shard, (start_tok // 256)::BIGINT AS seq_id,
        |       count(*) AS n_docs, sum(n_tokens)::BIGINT AS seq_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY 1, 2""".stripMargin,
    // x82: the same chain, read out as per-stage surviving-doc counts
    // with the drop vs the previous stage (8-row lag window)
    "x82_curation_funnel" ->
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
        |       AND CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |                WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |                WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |                WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |                ELSE 'es' END = 'en')
        |  UNION ALL SELECT 4, 'repetition_gate', (SELECT count(*) FROM gate)
        |  UNION ALL SELECT 5, 'decontaminated', (SELECT count(*) FROM dd)
        |  UNION ALL SELECT 6, 'exact_dedup',
        |    (SELECT count(*) FROM dd WHERE rn = 1)
        |  UNION ALL SELECT 7, 'span_dedup', (SELECT count(*) FROM scnt)
        |  UNION ALL SELECT 8, 'temperature_mix', (SELECT count(*) FROM mixed))
        |SELECT stage_id::BIGINT AS stage_id, stage, n_docs::BIGINT AS n_docs,
        |       coalesce(lag(n_docs) OVER (ORDER BY stage_id) - n_docs, 0)::BIGINT
        |         AS n_dropped
        |FROM counts""".stripMargin,
    "x48_frame_dedup" ->
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
        |WHERE rn = 1 AND n_copies >= 2""".stripMargin,
    "x50_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> x <> '') AS toks,
        |    length(text) AS n_chars,
        |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id, toks,
        |    (CASE WHEN len(toks) < 5 THEN 'too_short'
        |          WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
        |          ELSE 'ok' END) = 'ok' AS is_ok
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
        |GROUP BY terms.doc_id""".stripMargin,
    "x46_corpus_stats" ->
      """WITH s AS (
        |  SELECT source,
        |    CASE WHEN len(toks) < 5 THEN 'too_short'
        |         WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
        |         ELSE 'ok' END AS quality_bucket,
        |    CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |         WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |         WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |         WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |         ELSE 'es' END AS pred_lang,
        |    len(toks)::BIGINT AS n_tokens
        |  FROM (
        |    SELECT source, toks,
        |      len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS en_hits,
        |      len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS de_hits,
        |      len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr_hits,
        |      len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS es_hits,
        |      n_chars, n_punct
        |    FROM (
        |      SELECT source,
        |        list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                    x -> x <> '') AS toks,
        |        length(text) AS n_chars,
        |        length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        |      FROM documents)))
        |SELECT source, quality_bucket, pred_lang, count(*) AS n_docs,
        |       sum(n_tokens)::BIGINT AS total_tokens,
        |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM s GROUP BY CUBE (source, quality_bucket, pred_lang)""".stripMargin,
    "x45_token_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                         x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, sum(n_tokens)::BIGINT AS m FROM t GROUP BY source),
        |mt AS (SELECT min(m) AS m_target FROM c),
        |k AS (
        |  SELECT t.source, sum(t.n_tokens)::BIGINT AS kept_tokens
        |  FROM t JOIN c ON t.source = c.source CROSS JOIN mt
        |  WHERE ((t.doc_id % 1000000007) * 2654435761 % 100 + 100) % 100
        |          * c.m < mt.m_target * 100
        |  GROUP BY t.source)
        |SELECT c.source, c.m AS total_tokens,
        |       coalesce(k.kept_tokens, 0) AS kept_tokens
        |FROM c LEFT JOIN k USING (source)""".stripMargin,
    "x44_incremental_curation" ->
      """WITH e AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks,
        |         length(text) AS n_chars,
        |         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, fingerprint,
        |    len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS en_hits,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS de_hits,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr_hits,
        |    len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS es_hits,
        |    CASE WHEN len(toks) < 5 THEN 'too_short'
        |         WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
        |         ELSE 'ok' END AS quality_bucket
        |  FROM e),
        |l AS (
        |  SELECT doc_id, fingerprint,
        |    CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |         WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |         WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |         WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |         ELSE 'es' END AS pred_lang
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
        |                  WHERE o.fingerprint = n.fingerprint)""".stripMargin,
    "x43_pack_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                         x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, n_tokens, doc_id % 8 AS shard,
        |         (sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens)::BIGINT AS start_tok
        |  FROM toks WHERE n_tokens > 0),
        |sp AS (
        |  SELECT shard, doc_id, start_tok, start_tok + n_tokens AS end_tok,
        |         u.seq_id
        |  FROM a, UNNEST(range(start_tok // 512,
        |                       (start_tok + n_tokens - 1) // 512 + 1)) AS u(seq_id))
        |SELECT shard, seq_id, count(*) AS n_docs,
        |       sum(least(end_tok, (seq_id + 1) * 512)
        |           - greatest(start_tok, seq_id * 512))::BIGINT AS seq_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM sp GROUP BY 1, 2""".stripMargin,
    "x42_domain_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_before FROM documents GROUP BY source),
        |t AS (SELECT min(n_before) AS n_target FROM c),
        |k AS (
        |  SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN c ON d.source = c.source CROSS JOIN t
        |  WHERE ((d.doc_id % 1000000007) * 2654435761 % 100 + 100) % 100
        |          * c.n_before < t.n_target * 100
        |  GROUP BY d.source)
        |SELECT c.source, c.n_before, coalesce(k.n_kept, 0) AS n_kept
        |FROM c LEFT JOIN k USING (source)""".stripMargin,
    // full kept-set replay of the per-domain cap: same integer token
    // score, same (score DESC, id ASC) rank, same K
    "x55_domain_cap" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                         x -> x <> ''))::BIGINT AS score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, score,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
        |  FROM t)
        |SELECT doc_id, source, score, rnk FROM r WHERE rnk <= $domainCapK""".stripMargin,
    // x78: same hashBucket spelling as x42 at B=$tempBuckets, squared —
    // h²·n_d < n_min·B² replays the √(n_min/n_d) keep rate in BIGINTs
    "x78_temperature_mix" ->
      s"""WITH cn AS (
        |  SELECT lang, count(*) AS n_domain FROM documents GROUP BY lang),
        |mn AS (SELECT min(n_domain) AS n_min FROM cn),
        |h AS (
        |  SELECT d.doc_id, d.lang, cn.n_domain, mn.n_min,
        |         ((d.doc_id % 1000000007) * 2654435761 % $tempBuckets
        |            + $tempBuckets) % $tempBuckets AS hb
        |  FROM documents d JOIN cn USING (lang) CROSS JOIN mn)
        |SELECT doc_id, lang FROM h
        |WHERE hb * hb * n_domain < n_min * ${tempBuckets.toLong * tempBuckets}""".stripMargin,
    "x36_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM tr JOIN ev ON tr.shingle = ev.shingle
        |GROUP BY tr.doc_id
        |HAVING count(*) >= 1""".stripMargin,
    // x83: x36's shingle CTEs read the other way — per-eval-doc totals
    // and train-set hits, fraction at 4dp, TOTAL over eval docs
    "x83_eval_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |tg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 <> 0),
        |ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
        |ht AS (SELECT ev.doc_id, count(*) AS n_seen
        |       FROM ev JOIN tg USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |       coalesce(n_seen, 0) AS n_seen,
        |       round(coalesce(n_seen * 1.0 / n_grams, 0), 4) AS seen_frac
        |FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN ht USING (doc_id)
        |WHERE d.doc_id % 20 = 0""".stripMargin,
    // bloom replay: rebuild the eval-set bit array from the SAME 60-bit
    // md5 bases, splitmix multipliers and 63-bit-word layout, then
    // re-evaluate membership for every training gram — the oracle
    // reproduces the false positives bit-for-bit, so n_bloom is
    // hash-checked; n_shared is x36's exact count via the confirm join
    "x64_bloom_decontaminate" -> {
      def posSql(j: Int) =
        s"(bb % 1000000007 * ${graft.neardup.Bloom.coef(j)} % 999999937 % $bloomMBits)"
      def bitSql(j: Int) =
        s"(b[CAST(${posSql(j)} // 63 AS INT) + 1]" +
          s" & (1::BIGINT << CAST(${posSql(j)} % 63 AS INT))) <> 0"
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+${dupGramK - 1}], ' ') AS shingle
        |  FROM toks, UNNEST(range(1, len(t) - ${dupGramK - 2})) AS u(i)
        |  WHERE len(t) >= $dupGramK),
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
    },
    // x69: the byte-sum embed CTEs + one eval-broadcast screen — the
    // cosine/round spelling is x53's epsilon-ball; the eval set is the
    // fixed-count sample twin (same Knuth spread + floor-divided
    // bucket count as the Spark side)
    "x69_semantic_decontaminate" ->
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
        |GROUP BY doc_id""".stripMargin,
    // x70: inverted index + true-df + 1-row stats, then the identical
    // fixed-IEEE contribution sequence floored to integer millionths —
    // every float constant below is interpolated from the SAME Scala
    // doubles the Spark plan lits (shortest-round-trip formatting, and
    // ::DOUBLE casts keep DuckDB out of DECIMAL arithmetic).
    // x87 forces the Impact route, so it stays under oracle replay on
    // corpora where x86 auto-routes to Plain
    "x87_bm25_wand_forced" -> bm25TopKOracle,
    // x86 (impact-ordered BM25) is output-identical by construction
    // and spec (RetrievalSpec), so it shares this oracle text verbatim
    "x70_bm25_topk" -> bm25TopKOracle,
    "x86_bm25_wand" -> bm25TopKOracle,
    // the batch split partitions the query set exhaustively and scores
    // are per-query, so the batched union equals the one-shot run —
    // the same oracle text replays it
    "x89_bm25_batched" -> bm25TopKOracle,
    // x92 (scratch-forced auto) routes to the batched spelling, which
    // is output-identical to x70 — same shared oracle text
    "x92_bm25_auto_scratch" -> bm25TopKOracle,
    // x77: the x70 BM25 chain and the x05 cosine chain re-run over the
    // doc∩vec corpus CTE, then the RRF fuse — every contribution is
    // floor(1e6 / (C + rnk)) on integer-exact doubles, so the fused
    // integer scores replay bitwise
    "x77_rrf_fusion" ->
      s"""WITH c AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS tk
        |  FROM c),
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
        |         CAST(floor(
        |           ((CAST(q.n - q.df AS DOUBLE) + 0.5::DOUBLE)
        |             / (CAST(q.df AS DOUBLE) + 0.5::DOUBLE))
        |           * (CAST(tf.tf AS DOUBLE) * ${bmK1 + 1}::DOUBLE
        |              / (CAST(tf.tf AS DOUBLE)
        |                 + ${bmK1}::DOUBLE * (${1 - bmB}::DOUBLE
        |                     + ${bmB}::DOUBLE * CAST(tf.dl AS DOUBLE)
        |                       / (CAST(q.sl AS DOUBLE) / CAST(q.n AS DOUBLE)))))
        |           * 1e6) AS BIGINT) AS cb
        |  FROM q JOIN tf USING (term)
        |  WHERE tf.nid <> q.qid),
        |ag AS (SELECT qid, nid, CAST(sum(cb) AS BIGINT) AS score
        |       FROM sc GROUP BY 1, 2),
        |sr AS (SELECT qid, nid,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY score DESC, nid ASC) AS BIGINT) AS rnk
        |       FROM ag),
        |dq AS (SELECT doc_id AS qid, embedding::DOUBLE[] AS qvec FROM c
        |       WHERE ${fixedCountPredSql("c", "doc_id", rrfQueryTarget)}),
        |dsim AS (
        |  SELECT dq.qid, e.doc_id AS nid,
        |         round(list_cosine_similarity(dq.qvec, e.embedding::DOUBLE[]), 6) AS sim
        |  FROM dq, c e WHERE e.doc_id <> dq.qid),
        |dr AS (SELECT qid, nid,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
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
        |fr AS (SELECT qid, nid, score,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY score DESC, nid ASC) AS BIGINT) AS rnk
        |       FROM f)
        |SELECT qid, nid, score, rnk FROM fr WHERE rnk <= $rrfTopK""".stripMargin,
    // x71: same tokenization CTE, per-domain ordered prefix sum — the
    // window frame is spelled identically on both sides
    "x71_token_budget_select" ->
      s"""WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                                     x -> x <> '') AS tk
        |  FROM documents),
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
        |FROM c""".stripMargin,
    // x72: word-frequency table, vocabulary-sized pair explode
    // (range(1, len) is end-exclusive = the Spark guard's 1..len-1),
    // exact-integer counts, post-agg global rank
    "x72_bpe_pair_counts" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS tk
        |  FROM documents),
        |w AS (SELECT u.w AS w, count(*) AS freq
        |      FROM toks, UNNEST(tk) AS u(w) GROUP BY 1),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |      FROM w, UNNEST(range(1, length(w))) AS r(i)),
        |a AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |      FROM p GROUP BY pair),
        |r AS (SELECT pair, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rnk
        |      FROM a)
        |SELECT pair, cnt, rnk FROM r WHERE rnk <= $bpeTopN""".stripMargin,
    // x73: x12's rolling token hash feeds hashed unigram+bigram buckets
    // (DuckDB lists are 1-based; range(1, len) is end-exclusive = the
    // Spark guard's 1..len-1, and is empty for 1-token docs so no CASE
    // is needed), then Laplace micro-prob weights and the per-doc sum —
    // every integer step spelled identically on both sides
    "x73_dsir_select" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                     x -> x <> '') AS toks
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
        |FROM top""".stripMargin,
    // x74: unigram LM in exact micro-probs (Laplace-smoothed, OOV =
    // unseen mass), integer mean per doc; only the tertile thresholds
    // interpolate, via the q01-proven percentile_cont pairing, with the
    // fraction doubles interpolated identically on both sides
    "x74_ccnet_buckets" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                     x -> x <> '') AS toks
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
        |FROM s, th""".stripMargin,
    "x75_bpe_train" -> bpeTrainOracle(bpeMerges),
    "x76_bpe_segment" -> bpeSegmentOracle(bpeMerges),
    "x37_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                         x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, n_tokens, doc_id % 8 AS shard,
        |         sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens AS start_tok
        |  FROM toks)
        |SELECT shard, (start_tok // 512)::BIGINT AS seq_id,
        |       count(*) AS n_docs, sum(n_tokens)::BIGINT AS seq_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY 1, 2""".stripMargin,
    // full shard-layout replay: same Knuth spread key, same shard mod,
    // same (key, id) within-shard order — the export is deterministic
    // down to every row's position, and the oracle proves it
    "x54_shuffle_shard" ->
      s"""WITH k AS (
        |  SELECT doc_id,
        |         (((doc_id % 1000000007) * 2654435761) % 999999937
        |          + 999999937) % 999999937 AS k
        |  FROM documents)
        |SELECT doc_id, CAST(k % $exportShards AS INT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY k % $exportShards
        |                               ORDER BY k ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM k""".stripMargin,
    "x38_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id || '@mail.example.com ip 10.'
        |           || (doc_id % 250) || '.0.' || (doc_id % 100)
        |           || ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(t, '\+\d[\d-]{6,14}\d'))::BIGINT AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d-]{6,14}\d', '<PHONE>', 'g')) AS clean_md5
        |FROM p""".stripMargin,
    "x39_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 2
        |           THEN list_transform(range(1, len(t)),
        |                               i -> array_to_string(t[i:i+1], ' '))
        |           ELSE []::VARCHAR[] END AS grams
        |  FROM toks)
        |SELECT doc_id, len(grams)::BIGINT AS n_grams,
        |  len(list_distinct(grams))::BIGINT AS n_distinct,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE round(1 - len(list_distinct(grams))::DOUBLE / len(grams), 4)
        |  END AS rep_ratio,
        |  CASE WHEN len(grams) = 0 THEN FALSE
        |    ELSE round(1 - len(list_distinct(grams))::DOUBLE / len(grams), 4) >= 0.2
        |  END AS repetitive
        |FROM g""".stripMargin,
    "x21_langid_ngram" ->
      """WITH d AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN length(t) >= 3
        |              THEN list_distinct(list_transform(range(1, length(t) - 1),
        |                                                i -> t[i:i+2]))
        |              ELSE [] END AS grams
        |  FROM d),
        |e AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
        |prof AS (
        |  SELECT lang AS p_lang, gram, 201 - rnk AS weight FROM (
        |    SELECT lang, gram,
        |           row_number() OVER (PARTITION BY lang
        |                              ORDER BY count(*) DESC, gram ASC) AS rnk
        |    FROM e WHERE lang IS NOT NULL GROUP BY lang, gram) t
        |  WHERE rnk <= 200),
        |sc AS (
        |  SELECT doc_id, p_lang, CAST(sum(weight) AS BIGINT) AS score
        |  FROM e JOIN prof USING (gram) GROUP BY doc_id, p_lang),
        |best AS (
        |  SELECT doc_id, p_lang, score FROM (
        |    SELECT doc_id, p_lang, score,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY score DESC, p_lang ASC) AS rn
        |    FROM sc) t WHERE rn = 1)
        |SELECT g.doc_id, coalesce(best.p_lang, 'und') AS pred_lang,
        |       coalesce(best.score, 0) AS best_score
        |FROM g LEFT JOIN best USING (doc_id)""".stripMargin,
    "x31_char_jaccard" ->
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
        |WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.3""".stripMargin,
    "x30_langid_pretrained" ->
      """WITH d AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN length(t) >= 3
        |              THEN list_distinct(list_transform(range(1, length(t) - 1),
        |                                                i -> t[i:i+2]))
        |              ELSE [] END AS grams
        |  FROM d),
        |etr AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g
        |        WHERE doc_id % 2 = 0),
        |ete AS (SELECT doc_id, unnest(grams) AS gram FROM g
        |        WHERE doc_id % 2 = 1),
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
        |WHERE g.doc_id % 2 = 1""".stripMargin,
    // pair source df-capped like x02 (shared cappedWordShingleCtes —
    // the x22 pair truth and the x02 pair oracle cannot de-sync)
    "x22_dup_clusters" ->
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
        |FROM r GROUP BY id""".stripMargin,
    // CC over the PORTABLE LSH candidate pairs: the same md5-prefix pair
    // truth as x03 (one shared CTE constant — the two cannot de-sync),
    // closed by the x22 recursive-CTE component oracle
    "x28_dup_clusters_lsh" ->
      s"""WITH RECURSIVE $minhashPortablePairCtes,
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT src AS id, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM r GROUP BY id""".stripMargin,
    "x26_curation_pipeline" ->
      """WITH e AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks,
        |         length(text) AS n_chars,
        |         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, fingerprint,
        |    len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS en_hits,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS de_hits,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr_hits,
        |    len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS es_hits,
        |    CASE WHEN len(toks) < 5 THEN 'too_short'
        |         WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
        |         ELSE 'ok' END AS quality_bucket
        |  FROM e),
        |l AS (
        |  SELECT doc_id, fingerprint, quality_bucket,
        |    CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |         WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |         WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |         WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |         ELSE 'es' END AS pred_lang
        |  FROM g),
        |d AS (
        |  SELECT doc_id, fingerprint, pred_lang,
        |         row_number() OVER (PARTITION BY fingerprint
        |                            ORDER BY doc_id ASC) AS rn
        |  FROM l WHERE quality_bucket = 'ok' AND pred_lang = 'en')
        |SELECT doc_id, fingerprint, pred_lang FROM d
        |WHERE rn = 1
        |  AND ((doc_id % 1000000007) * 2654435761 % 100 + 100) % 100
        |        < 50""".stripMargin,
    "x25_sessionize_batch" ->
      """WITH f AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS session_no
        |  FROM f)
        |SELECT user_id, session_no, count(*) AS n_events,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS duration_min,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM s GROUP BY 1, 2""".stripMargin,
    // streaming sessionize twin: x25's session algebra PLUS the exact
    // emission rule of the availableNow run — non-final sessions always
    // emit (gap-closed in batch 0); a user's final session emits iff its
    // timeout ms (ceil((last_µs + 30min)/1000), the sessionizer's own
    // +999 floorDiv) is strictly below the final watermark ms
    // (floor(max_µs/1000) - 10 min). Cross-checks watermark arithmetic
    // and EventTimeTimeout semantics, not just session algebra.
    "x51_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |f AS (
        |  SELECT user_id, ts, cents,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, cents,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM f),
        |g AS (
        |  SELECT user_id, session_no,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS duration_min,
        |         sum(cents) / 100.0 AS total_value,
        |         max(ts) AS last_ts,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY session_no DESC) AS rn
        |  FROM s GROUP BY 1, 2),
        |wm AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM e)
        |SELECT user_id, n_events, duration_min, total_value
        |FROM g, wm
        |WHERE rn > 1
        |   OR (epoch_us(last_ts) + 1800000000 + 999) // 1000 < wm_ms""".stripMargin,
    // the streamed curation's emitted set == distinct fingerprints of
    // the gated PII-redacted corpus (same p/e/g CTE text as x41, minus
    // the eval-split exclusion and decontamination — x52 streams the
    // WHOLE corpus through redact→gate→dedup)
    "x52_stream_curation" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(
        |           text || ' contact user' || doc_id || '@mail.example.com ip 10.'
        |             || (doc_id % 250) || '.0.' || (doc_id % 100)
        |             || ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'),
        |           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |           '\+\d[\d-]{6,14}\d', '<PHONE>', 'g') AS text
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks,
        |         length(text) AS n_chars,
        |         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        |  FROM p),
        |g AS (
        |  SELECT doc_id, fingerprint, toks,
        |    len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS en_hits,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS de_hits,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr_hits,
        |    len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS es_hits,
        |    CASE WHEN len(toks) < 5 THEN 'too_short'
        |         WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.2 THEN 'punct_heavy'
        |         ELSE 'ok' END AS quality_bucket,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)),
        |                          i -> array_to_string(toks[i:i+1], ' '))
        |      ELSE []::VARCHAR[] END AS grams
        |  FROM e)
        |SELECT DISTINCT fingerprint FROM g
        |WHERE quality_bucket = 'ok'
        |  AND CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |           WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |           WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |           WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |           ELSE 'es' END = 'en'
        |  AND NOT (len(grams) <> 0 AND
        |           round(1 - len(list_distinct(grams))::DOUBLE / len(grams), 4) >= 0.2)""".stripMargin,
    "q38_variant_shred" ->
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) AS k
        |FROM events""".stripMargin,
    // split replay: the same portable-pmod bucket arithmetic as the
    // sampling family, CASE'd into the three labels
    "x66_split_assign" ->
      """SELECT doc_id, lang, source,
        |       CAST(((doc_id % 1000000007) * 2654435761 % 100 + 100) % 100
        |            AS BIGINT) AS bucket,
        |       CASE WHEN ((doc_id % 1000000007) * 2654435761 % 100 + 100) % 100 < 80
        |              THEN 'train'
        |            WHEN ((doc_id % 1000000007) * 2654435761 % 100 + 100) % 100 < 90
        |              THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "x24_stratified_sample" ->
      """SELECT event_type, count(*) AS n_kept FROM events
        |WHERE ((event_id % 1000000007) * 2654435761 % 100 + 100) % 100 <
        |      CASE event_type WHEN 'error' THEN 100 WHEN 'signup' THEN 100
        |                      WHEN 'click' THEN 10 ELSE 5 END
        |GROUP BY event_type""".stripMargin,
    "x23_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                                    x -> x <> '')) AS term
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
        |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "x05_cosine_topk" ->
      s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}),
        |s AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |         round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS sim
        |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
        |r AS (
        |  SELECT qid, nid, sim,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // JL replay: rebuild the projected vectors from the interpolated
    // sign chains (bit-equal doubles — see jlProjectSqlList), then x05's
    // brute chain over the compressed space
    "x67_jl_topk" ->
      s"""WITH pv AS (
        |  SELECT vec_id, ${jlProjectSqlList("v", 64, jlOutDim)} AS p
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) t0),
        |q AS (SELECT vec_id AS qid, p AS qvec FROM pv
        |      WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}),
        |s AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |         round(list_cosine_similarity(q.qvec, e.p), 6) AS sim
        |  FROM q, pv e WHERE e.vec_id <> q.qid),
        |r AS (
        |  SELECT qid, nid, sim,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "x68_jl_recall" ->
      s"""SELECT count(*) AS n_queries, TRUE AS mean_recall_ok
        |FROM embeddings
        |WHERE ${fixedCountPredSql("embeddings", "vec_id", 40)}""".stripMargin,
    // bucketed LSH-ANN: DuckDB rebuilds the SAME hyperplane buckets from
    // the interpolated plane literals (lshPlanesSqlValues), so the
    // candidate set — not just the scoring — is cross-engine-checked
    "x06_cosine_lsh" -> lshTopKOracleChain(6),
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
    "x85_lsh_auto" -> {
      val b6Max = lshAutoTargetBucket.toLong << 6
      val b7Max = lshAutoTargetBucket.toLong << 7
      s"""SELECT qid, nid, sim, rnk FROM (${lshTopKOracleChain(6)}) b6
        |WHERE (SELECT count(*) FROM embeddings) <= $b6Max
        |UNION ALL
        |SELECT qid, nid, sim, rnk FROM (${lshTopKOracleChain(7)}) b7
        |WHERE (SELECT count(*) FROM embeddings) > $b6Max
        |  AND (SELECT count(*) FROM embeddings) <= $b7Max
        |UNION ALL
        |SELECT CAST(error('x85 oracle: corpus of ' || n || ' embeddings exceeds the enumerated lsh nbits branches (max ${b7Max})') AS BIGINT) AS qid,
        |       0::BIGINT AS nid, 0.0::DOUBLE AS sim, 0::BIGINT AS rnk
        |FROM (SELECT count(*) AS n FROM embeddings) g WHERE n > $b7Max""".stripMargin
    },
    // embedding near-dup: same literal-plane rebuild (nbits=4, 8 tables),
    // then the exact verify-filter over the LSH candidate pairs
    "x07_embedding_neardup" ->
      s"""WITH planes(t, b, plane) AS (VALUES ${lshPlanesSqlValues(8, 4, 64)}),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |bands AS (
        |  SELECT vec_id, t,
        |         bit_or(CASE WHEN list_dot_product(vec, plane) > 0
        |                     THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bucket
        |  FROM v, planes GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bands a JOIN bands b ON a.t = b.t AND a.bucket = b.bucket
        |                            AND a.vec_id < b.vec_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |         round(list_cosine_similarity(va.vec, vb.vec), 6) AS sim
        |  FROM cand c
        |  JOIN v va ON va.vec_id = c.id_a
        |  JOIN v vb ON vb.vec_id = c.id_b)
        |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.25""".stripMargin,
    // representative composition: identical-vector groups (min-id rep +
    // multiplicity), then the SAME literal-plane LSH over reps only
    // with the per-bucket member cap replayed (row_number ≤ cap, id
    // ASC — never engages at oracle scale but the RULE is what's
    // checked), implied cross-twin pair counts on the way out
    "x57_embed_neardup_reps" -> nearDupRepsOracle(repBucketCap),
    // the cap rule ENGAGED: same oracle text at the tight cap — at
    // sf0.01 occupancy (~125 reps/bucket) row_number ≤ 32 truncates
    // most buckets, so the kept-member SELECTION itself is what the
    // hash compare pins (round-14 verdict: the engaged path was only
    // spec-covered, never driver-oracle-covered)
    "x91_neardup_reps_tight" -> nearDupRepsOracle(repBucketCapTight),
    // x57's truncation report: the same rep collapse + banding, one
    // occupancy aggregate, n_kept = least(n_ids, cap)
    "x88_neardup_bucket_load" -> nearDupBucketLoadOracle(repBucketCap),
    // the report with the cap ENGAGED at sf0.01: n_kept < n_ids on
    // most rows — the literal truncation quantity is hash-checked
    "x90_neardup_bucket_load_tight" ->
      nearDupBucketLoadOracle(repBucketCapTight),
    // multimodal retrieval: DuckDB re-derives Multimodal.fakeEmbed
    // byte-for-byte — v[i%16] += byte·(1+(i/16)%3) accumulates EXACT
    // integers (≤ a few 10⁵, far inside float32's 2^24 exact range, so
    // Spark's sequential float adds are order-independent and equal the
    // integer sum), the double norm and float division are IEEE-
    // deterministic from exact inputs, and the ASCII fixture invariant
    // (FixtureInvariantSpec) makes ord(char) = payload byte. The cosine
    // + round(6) cross-engine parity is the proven x05 pattern.
    "x17_multimodal_topk" ->
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
        |      WHERE ${fixedCountPredSql("documents", "doc_id", 50)}),
        |s AS (
        |  SELECT q.qid, n.doc_id AS nid,
        |         round(list_cosine_similarity(q.qemb::DOUBLE[], n.emb::DOUBLE[]), 6) AS sim
        |  FROM q, nrm n WHERE n.doc_id <> q.qid),
        |r AS (
        |  SELECT qid, nid, sim,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY sim DESC, nid ASC) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "x08_langid" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS INTEGER) AS en_hits,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS INTEGER) AS de_hits,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS INTEGER) AS fr_hits,
        |    CAST(len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS INTEGER) AS es_hits
        |  FROM t)
        |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |       WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |       WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |       WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM h""".stripMargin,
    // x84: the min-first-occurrence spelling of cumulative distinct,
    // identical IEEE floor-division bucketing, running sums over the
    // bucket frame
    "x84_vocab_growth" ->
      s"""WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |                             x -> x <> '') AS tk
        |  FROM documents),
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
        |FROM b LEFT JOIN nt USING (bucket)""".stripMargin,
    // x80: same tokenization, positional bigrams, per-source distinct
    // counts and 4-dp ratios — the x61 division/coalesce idiom
    "x80_diversity_profile" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS tk
        |  FROM documents),
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
        |FROM d LEFT JOIN u1 USING (domain) LEFT JOIN u2 USING (domain)""".stripMargin,
    "x09_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(length(text) AS INTEGER) AS len_chars,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
        |    CAST(len(list_filter(toks, x -> x IN ('a','and','das','der','des','die',
        |      'ein','el','et','la','las','le','les','los','of','the','to','una','und','y')))
        |      AS INTEGER) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tokens, len_chars,
        |  round(len_chars::DOUBLE / greatest(n_tokens, 1), 3) AS chars_per_token,
        |  round(n_punct::DOUBLE / greatest(len_chars, 1), 4) AS punct_ratio,
        |  round(n_stop::DOUBLE / greatest(n_tokens, 1), 4) AS stopword_ratio,
        |  CASE WHEN n_tokens < 5 THEN 'too_short'
        |       WHEN n_punct::DOUBLE / greatest(len_chars, 1) > 0.2 THEN 'punct_heavy'
        |       ELSE 'ok' END AS quality_bucket
        |FROM m""".stripMargin,
    "x10_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                       x -> x <> '')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS INTEGER) AS bpe_tokens
        |FROM documents""".stripMargin,
    "x11_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    "x12_rolling_hash" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS toks
        |  FROM documents),
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
        |FROM h""".stripMargin,
    "x19_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q43_resize_stub" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
        |       CAST(CASE WHEN octet_length(encode(text)) <= 64
        |                 THEN octet_length(encode(text))
        |                 ELSE (octet_length(encode(text)) - 1)
        |                      // ((octet_length(encode(text)) + 63) // 64) + 1
        |            END AS BIGINT) AS resized_bytes
        |FROM documents""".stripMargin,
    "x18_frame_sample" ->
      """SELECT doc_id,
        |  CAST(least(4, greatest(1, octet_length(encode(text)) // 8)) AS BIGINT)
        |    AS n_frames,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
        |FROM documents""".stripMargin,
    "x13_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
        |       CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS fake_height,
        |       CASE WHEN octet_length(encode(text)) % 2 = 0
        |            THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents""".stripMargin
  )
}
