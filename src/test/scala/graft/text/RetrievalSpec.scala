package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 retrieval (x70) contract: ranking follows tf saturation, idf
  * rarity weighting, and length normalization; the fractional df-cap
  * drops ubiquitous terms from scoring; scores are exact integers
  * (fixed-point millionths) independent of partitioning and of the
  * route.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 is the query; "rare" appears in docs 2 and 3 only, "common"
  // everywhere. Doc 2 is shorter than doc 3, doc 4 shares only the
  // ubiquitous term.
  private def corpus = Seq(
    (1L, "rare common alpha"),
    (2L, "rare common beta"),
    (3L, "rare common beta beta beta beta beta beta"),
    (4L, "common gamma delta"),
    (5L, "common epsilon zeta"))
    .toDF("doc_id", "text")

  private def topk(maxDfFrac: Double = 0.9) =
    Retrieval.bm25TopK(corpus, "doc_id", "text",
      col("doc_id") === 1L, k = 5, maxDfFrac = maxDfFrac)

  test("rare-term sharers rank, ubiquitous-only docs are capped out") {
    // "common" is in 5/5 docs: floor(0.9 * 5) = 4 < 5 drops it from
    // scoring, so docs 4/5 (common-only) get NO hit row at all and
    // docs 2/3 score on "rare" alone
    val out = topk().orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(2L, 3L),
      "shorter doc 2 outranks doc 3 at equal tf (length normalization)")
    assert(out.map(_._3).toSeq == Seq(1L, 2L))
    assert(out.forall(_._2 > 0))
    // same matched term, same tf — only length differs, so scores differ
    assert(out.map(_._2).distinct.length == 2)
  }

  test("raising the df-cap to 1.0 admits the ubiquitous term") {
    // floor(1.0 * 5) = 5 keeps "common": docs 4 and 5 now appear,
    // below the rare-term sharers (rational idf of a 5/5 term ≈ 0.1)
    val out = topk(maxDfFrac = 1.0).orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(out.map(_._1).take(2).toSet == Set(2L, 3L))
    assert(out.map(_._1).toSet == Set(2L, 3L, 4L, 5L))
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("scores are partition-independent exact integers") {
    val a = topk().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Retrieval.bm25TopK(corpus.repartition(7), "doc_id", "text",
        col("doc_id") === 1L, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "fixed-point contributions must make the sum order-free")
  }

  test("query doc is excluded and empty corpus yields empty output") {
    assert(!topk().collect().exists(_.getLong(1) == 1L))
    val empty = corpus.filter(col("doc_id") < 0L)
    assert(Retrieval.bm25TopK(empty, "doc_id", "text",
      col("doc_id") === 1L).count() == 0L)
  }

  // ---- routes: every route returns the plain route's rows ----

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.logical.canonicalized

  // 40 docs over a Zipf-ish vocabulary: three ubiquitous terms (c1-c3,
  // df=40 — tiny idf, long postings: exactly what the prune must skip),
  // ten mid terms (m0-m9, df~8), rare terms (r0-r19, df=2). Doc pairs
  // (2i, 2i+1) share their rare term so integer-score TIES occur and
  // the nid-asc tiebreak is exercised through the pruned path.
  private def zipf = (0 until 40).map { i =>
    val rare = s"r${i / 2}"
    val mid = s"m${i % 10} m${(i + 3) % 10}"
    (i.toLong, s"c1 c2 c3 $mid $rare " + ("c1 " * (i % 4)).trim)
  }.toDF("doc_id", "text")

  test("impact-ordered BM25 equals the exact spelling on the base fixture " +
      "for every essential-split size") {
    val base = rows(topk())
    for (e <- Seq(1, 2, 3, 8, 100)) {
      val got = rows(Retrieval.bm25TopK(corpus, "doc_id", "text",
        col("doc_id") === 1L, route = Bm25Route.Impact(e), k = 5))
      assert(got == base, s"essTerms=$e diverged: got $got, want $base")
    }
    spark.catalog.clearCache()
  }

  test("query-batched BM25 equals the one-shot spelling for every batch " +
      "count, including counts above the query count") {
    // multi-query predicate so batches actually split the sample; the
    // portableBase-mod routing must partition it exhaustively (every
    // query appears in the union exactly once, scores unchanged)
    val pred = col("doc_id") <= 2L
    val base = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred, k = 5))
    for (nb <- Seq(1, 2, 3, 7)) {
      val got = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
        route = Bm25Route.Batched(nb), k = 5))
      assert(got == base, s"batches=$nb diverged: got $got, want $base")
    }
    spark.catalog.clearCache()
  }

  test("impact-ordered BM25 equals the exact spelling on a Zipfian corpus " +
      "where the threshold prune actually engages (and on ties)") {
    val pred = col("doc_id") < 4L // 4 query docs
    val exact = rows(Retrieval.bm25TopK(zipf, "doc_id", "text", pred,
      k = 5, maxDfFrac = 1.0))
    for (e <- Seq(1, 2, 4, 8)) {
      val got = rows(Retrieval.bm25TopK(zipf, "doc_id", "text", pred,
        route = Bm25Route.Impact(e), k = 5, maxDfFrac = 1.0))
      assert(got == exact, s"essTerms=$e diverged on the Zipf corpus")
    }
    // the equality above must not hold VACUOUSLY (every query routed
    // through the open fallback = x70 re-run): at essTerms=4 the three
    // ubiquitous terms are non-essential, their mass bound is tiny next
    // to the k-th essential score, and the prune must ENGAGE
    val meta = Retrieval.bm25ImpactParts(
      Retrieval.bm25Parts(zipf, "doc_id", "text", pred, 1.0),
      k1 = 1.2, b = 0.75, k = 5, essTerms = 4)
      .qmeta.collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(meta.values.exists(_ == false),
      s"prune never engaged on the Zipf fixture: $meta")
    spark.catalog.clearCache()
  }

  test("auto-branched BM25 picks the plain spelling below the crossover " +
      "and the impact spelling at/above it (plan-identical to each)") {
    // both branches are output-identical, so the pin is on the PLAN:
    // auto must return literally the chosen route's plan (the x59
    // idiom adapted — there the outputs differ, here only the work)
    val pred = col("doc_id") === 1L
    def topk(route: Bm25Route) =
      Retrieval.bm25TopK(corpus, "doc_id", "text", pred, route = route, k = 5)
    assert(canon(topk(Bm25Route.Auto(n = 5L))) == canon(topk(Bm25Route.Plain)),
      "n below the crossover must route to the plain exact join")
    assert(canon(topk(Bm25Route.Auto(n = 250000L))) ==
      canon(topk(Bm25Route.Impact())),
      "n at/above the crossover must route to the impact spelling")
    // and the crossover is the measured 250k bracket midpoint
    assert(Retrieval.bm25ImpactCrossoverDocs == 250000L)
    spark.catalog.clearCache()
  }

  test("staged-tokenize batched BM25 equals the unstaged spelling") {
    // Batched(1) reads the tokens in-plan; Batched(n > 1) stages them
    // to scratch parquet once and reads every batch from there
    val pred = col("doc_id") <= 2L
    val base = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred, k = 5))
    val unstaged = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
      route = Bm25Route.Batched(1), k = 5))
    assert(unstaged == base, "unstaged batches=1 diverged")
    for (nb <- Seq(2, 3)) {
      val got = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
        route = Bm25Route.Batched(nb), k = 5))
      assert(got == unstaged, s"staged batches=$nb diverged")
    }
    spark.catalog.clearCache()
  }

  /** bm25toks-prefixed staging dirs currently under java.io.tmpdir —
    * the no-checkpoint-dir staging location.
    */
  private def stagedDirs(): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
    Option(tmp.listFiles).map(_.iterator.map(_.getName)
      .filter(_.startsWith("bm25toks")).toSet).getOrElse(Set.empty)
  }

  test("three consecutive staged invocations in one session emit no " +
      "path errors and leave no staging dirs behind") {
    // the r16 bench tail carried a truncated "…h does not exist" line
    // inside x92's rep window (unreproduced in isolation); this pins
    // the staged-dir lifecycle — create, read per batch, delete —
    // across repeated same-session invocations, the exact shape Bench's
    // min-of-3 reps exercise
    val pred = col("doc_id") <= 2L
    val before = stagedDirs()
    val outs = (1 to 3).map { _ =>
      val r = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
        route = Bm25Route.Batched(2), k = 5))
      spark.catalog.clearCache()
      r
    }
    assert(outs.distinct.size == 1, "repeat invocations diverged")
    assert(stagedDirs() == before,
      "staged token dirs leaked across invocations")
  }

  test("a failing batch still deletes the staged token dir (try/finally)") {
    val before = stagedDirs()
    // a predicate naming a non-projected column fails analysis inside
    // the first batch — AFTER the staging write has happened
    intercept[org.apache.spark.sql.AnalysisException] {
      Retrieval.bm25TopK(corpus, "doc_id", "text",
        col("no_such_column") === 1L, route = Bm25Route.Batched(2), k = 5)
    }
    assert(stagedDirs() == before,
      "a throwing batch leaked its corpus-sized staged parquet")
  }

  test("staging goes under the session checkpoint dir when one is set") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val pred = col("doc_id") <= 2L
      val base = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred, k = 5))
      val before = stagedDirs()
      val got = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
        route = Bm25Route.Batched(2), k = 5))
      assert(got == base, "checkpoint-dir staging diverged")
      assert(stagedDirs() == before,
        "staging ignored the checkpoint dir (used java.io.tmpdir)")
      // and the checkpoint dir's own staging subdir is cleaned up too
      val p = new org.apache.hadoop.fs.Path(ckpt)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leftover = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("bm25toks"))
      assert(leftover.isEmpty,
        s"staged dirs leaked under the checkpoint dir: ${leftover.toSeq}")
    } finally spark.catalog.clearCache()
  }

  test("auto-branched BM25 routes to the batched spelling above the " +
      "scratch budget, with the batch count that fits it") {
    val pred = col("doc_id") <= 2L
    // the sizing rule itself: measured constants, ceil, query-count cap
    assert(Retrieval.bm25ScratchMbPer1MDocsPer10Queries == 3072L)
    assert(Retrieval.bm25ScratchEstimateMb(10000000L, 40L) == 122880L)
    assert(Retrieval.bm25AutoBatches(10000000L, 40L, 49152L) == 3,
      "10M docs x 40 queries over a 48 GiB budget must split in 3")
    assert(Retrieval.bm25AutoBatches(100000L, 40L, 49152L) == 1,
      "an index that fits the budget stays monolithic")
    assert(Retrieval.bm25AutoBatches(100000000L, 4L, 1L) == 4,
      "batch count is capped at the query count")
    // an unknown budget fails closed: rejected, never read as unlimited
    for (budget <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException](
        Bm25Route.Auto(10000000L, 40L, scratchBudgetMb = budget))
      assert(e.getMessage.contains("scratchBudgetMb"), e.getMessage)
    }
    // the engaged branch returns literally the batched route's result
    // (batched is eager — localCheckpoint per batch — so the pin is on
    // OUTPUT equality against the plain route)
    val base = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred, k = 5))
    // n is caller-supplied: claiming 10M docs at the default budget
    // forces the 3-batch split on the real (tiny) corpus — engagement
    // is asserted via the rule above, equality via the output here
    val auto = rows(Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
      route = Bm25Route.Auto(10000000L, queryCount = 40L), k = 5))
    assert(auto == base, "scratch-routed auto must stay output-identical")
    // and below the budget the plan is still the crossover-routed one
    val mono = Retrieval.bm25TopK(corpus, "doc_id", "text", pred,
      route = Bm25Route.Auto(5L, queryCount = 2L), k = 5)
    assert(canon(mono) == canon(
      Retrieval.bm25TopK(corpus, "doc_id", "text", pred, k = 5)),
      "a fitting index must keep the monolithic plan")
    spark.catalog.clearCache()
  }

  test("impact-ordered BM25: open-query fallback (fewer than k essential " +
      "hits) and empty corpus stay exact") {
    // only 3 docs share any term with the query => theta is NULL at k=5
    // for every split => all queries route through the open path
    val tiny = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha zeta"), (3L, "beta eta"),
      (4L, "gamma theta"), (5L, "iota kappa"))
      .toDF("doc_id", "text")
    val exact = rows(Retrieval.bm25TopK(tiny, "doc_id", "text",
      col("doc_id") === 1L, k = 5, maxDfFrac = 1.0))
    val got = rows(Retrieval.bm25TopK(tiny, "doc_id", "text",
      col("doc_id") === 1L, route = Bm25Route.Impact(2), k = 5,
      maxDfFrac = 1.0))
    assert(got == exact)
    val empty = tiny.filter(col("doc_id") < 0L)
    assert(Retrieval.bm25TopK(empty, "doc_id", "text",
      col("doc_id") === 1L, route = Bm25Route.Impact()).count() == 0L)
    spark.catalog.clearCache()
  }

  test("impact-ordered BM25 equals the exact spelling on seeded random " +
      "corpora (multi-query, duplicate docs, partition-shuffled)") {
    val rnd = new scala.util.Random(4242)
    // Zipf-ish sampling: term w<j> with j ~ floor(V^u) over V=30
    def term(): String = s"w${math.pow(30, rnd.nextDouble()).toInt}"
    val base = (0 until 120).map { i =>
      val len = 5 + rnd.nextInt(20)
      (i.toLong, (0 until len).map(_ => term()).mkString(" "))
    }
    val byId = base.toMap
    // every 10th doc duplicates the previous one verbatim => exact
    // score ties across distinct nids
    val docs = base.map { case (i, t) =>
      if (i % 10 == 9) (i, byId(i - 1)) else (i, t)
    }
    val df = docs.toDF("doc_id", "text").repartition(7)
    val pred = col("doc_id") % 17L === 0L
    val exact = rows(Retrieval.bm25TopK(df, "doc_id", "text", pred, k = 5))
    for (e <- Seq(1, 4, 16)) {
      val got = rows(Retrieval.bm25TopK(df, "doc_id", "text", pred,
        route = Bm25Route.Impact(e), k = 5))
      assert(got == exact, s"essTerms=$e diverged on the random corpus")
    }
    spark.catalog.clearCache()
  }

  // ---- reciprocal-rank fusion (x77) ----

  private def ranked(rows: (Long, Long, Long)*) =
    rows.toSeq.toDF("qid", "nid", "rnk")

  test("rrf: two-list agreement at rank 2 beats a single rank-1 hit") {
    // C=60: doc 20 contributes floor(1e6/62)*2 = 32258, doc 10 only
    // floor(1e6/61) = 16393 — consensus wins, the RRF selling point
    val a = ranked((1L, 10L, 1L), (1L, 20L, 2L))
    val b = ranked((1L, 30L, 1L), (1L, 20L, 2L))
    val out = Retrieval.rrfFuse(Seq(a, b)).orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.head == ((20L, 32258L, 1L)))
    // 10 and 30 tie at 16393 — deterministic nid-asc break
    assert(out.map(_._1).toSeq == Seq(20L, 10L, 30L))
    assert(out(1)._2 == 16393L && out(2)._2 == 16393L)
  }

  test("rrf: top-k cap and per-query isolation") {
    val a = ranked((1 to 8).map(i => (1L, i.toLong, i.toLong)): _*)
    val b = ranked((2L, 99L, 1L))
    val out = Retrieval.rrfFuse(Seq(a, b), k = 3).collect()
    assert(out.count(_.getLong(0) == 1L) == 3)
    assert(out.filter(_.getLong(0) == 2L).map(_.getLong(1)).toSeq == Seq(99L))
  }

  test("rrf: single-ranker fuse preserves the input order") {
    val a = ranked((1L, 5L, 1L), (1L, 7L, 2L), (1L, 3L, 3L))
    val out = Retrieval.rrfFuse(Seq(a)).orderBy("rnk").collect()
      .map(_.getLong(1)).toSeq
    assert(out == Seq(5L, 7L, 3L))
  }
}
