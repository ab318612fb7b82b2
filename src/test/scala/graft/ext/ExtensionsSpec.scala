package graft.ext

import graft.{SparkSpec, Tables}
import graft.neardup.NearDup
import graft.sim.Similarity
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** North-star extension operators: near-dup, similarity, text analysis,
  * multimodal plumbing (BASELINE.json).
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over a sleepy dog"),   // near dup
    (4L, "completely different words entirely here now yes")
  ).toDF("doc_id", "text")

  test("jaccardPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = NearDup.jaccardPairs(dupDocs, "doc_id", "text", 3, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val exact = pairs.find(p => p._1 == 1 && p._2 == 2)
    assert(exact.exists(_._3 == 1.0))
    assert(pairs.exists(p => p._1 == 1 && p._2 == 3)) // near dup found
    assert(!pairs.exists(p => p._2 == 4))             // unrelated excluded
  }

  test("pair join equals an independent in-memory Jaccard over a seeded " +
      "random corpus (value-level pin for any future join-key respelling)") {
    // written for the r18 fingerprint-key experiment (reverted — see
    // jaccardPairsOver) and kept: it pins the whole operator against a
    // reference computed OUTSIDE Spark (plain Scala sets), so any
    // future key respelling mistake (collision merging, residual
    // dropped, df-cap drift) surfaces as a value diff, not a
    // plausible-looking plan
    val rnd = new scala.util.Random(1337)
    def word() = s"w${rnd.nextInt(30)}"
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 6 + rnd.nextInt(10)).map(_ => word()).mkString(" "))
    }
    val fixture = base.map { case (i, t) =>
      if (i % 7 == 6) (i, base((i - 1).toInt)._2) else (i, t)
    }
    val docsDf = fixture.toDF("doc_id", "text").repartition(5)
    val k = 3
    val got = NearDup.jaccardPairs(docsDf, "doc_id", "text", k,
        threshold = 0.3, maxDocFreq = Some(8))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("jaccard"))).toSet
    // independent reference: shingle sets + df-cap + pairwise Jaccard
    // in plain Scala over the same fixture (tokens() = lower, trim,
    // whitespace split, empties dropped)
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    val shSets = fixture.map { case (id, t) =>
      val tk = toks(t)
      id -> (if (tk.length < k) Set.empty[String]
        else tk.sliding(k).map(_.mkString(" ")).toSet)
    }.toMap
    val df = shSets.values.flatten.groupBy(identity).map { case (s, o) =>
      s -> shSets.count(_._2.contains(s))
    }
    val capped = shSets.map { case (id, s) =>
      id -> s.filter(g => df(g) <= 8)
    }
    val want = (for {
      a <- capped.keys; b <- capped.keys if a < b
      common = (capped(a) & capped(b)).size if common > 0
      j = common.toDouble / (capped(a).size + capped(b).size - common)
      jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.3
    } yield (a, b, common.toLong, jr)).toSet
    assert(got == want, s"fp-keyed join diverged:\n got  $got\n want $want")
  }

  test("minhash LSH finds the exact-dup pair with verified jaccard 1.0") {
    val pairs = NearDup.minhashLshPairs(dupDocs, "doc_id", "text").collect()
    assert(pairs.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2 &&
      r.getAs[Double]("jaccard") == 1.0))
  }

  test("simhash: identical docs have distance 0 and are paired") {
    val pairs = NearDup.simhashPairs(dupDocs, "doc_id", "text", maxHamming = 8)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2 &&
      r.getAs[Int]("hamming") == 0))
  }

  test("simhashBothFromToks: the fused two-family aggregate is bit-identical " +
      "to each family's standalone signature (x58's shared-pass seam)") {
    val toks = dupDocs.select(col("doc_id").as("id"),
      graft.text.TextAnalysis.tokens(col("text")).as("toks"))
    def sigMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val both = NearDup.simhashBothFromToks(toks)
    assert(sigMap(both.select(col("id"), col("sim_port"))) ==
      sigMap(NearDup.simhashFromToks(toks, portable = true)),
      "fused portable signatures diverged from the standalone aggregate")
    assert(sigMap(both.select(col("id"), col("sim_prod"))) ==
      sigMap(NearDup.simhashFromToks(toks, portable = false)),
      "fused production signatures diverged from the standalone aggregate")
    // and the toks seam itself equals the (df, idCol, textCol) spelling
    assert(sigMap(NearDup.simhashFromToks(toks, portable = true)) ==
      sigMap(NearDup.simhash(dupDocs, "doc_id", "text", portable = true)))
  }

  test("portable (md5) near-dup variants keep the dedup contract and stay sign-safe") {
    // same fixtures as the murmur tests: the hash primitive changes, the
    // near-dup semantics must not
    val mp = NearDup.minhashLshPairs(dupDocs, "doc_id", "text", portable = true)
      .collect()
    assert(mp.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2 &&
      r.getAs[Double]("jaccard") == 1.0))
    val sp = NearDup.simhashPairs(dupDocs, "doc_id", "text", maxHamming = 8,
        portable = true).collect()
    assert(sp.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2 &&
      r.getAs[Int]("hamming") == 0))
    // 60-bit portable signatures never touch the sign bit — the property
    // that makes every shift exact in BOTH engines (the oracle's DuckDB
    // twin rebuilds them nibble-by-nibble)
    val sigs = NearDup.simhash(dupDocs, "doc_id", "text", portable = true)
      .collect().map(_.getLong(1))
    assert(sigs.nonEmpty && sigs.forall(s => s >= 0L && s < (1L << 60)))
  }

  test("portableBase/portableCoef match independent JVM md5 arithmetic (cross-engine anchor)") {
    import org.apache.spark.sql.functions.lit
    val got = dupDocs.limit(1)
      .select(NearDup.portableBase(lit("abc def")),
        (NearDup.portableBase(lit("abc def")) % NearDup.PortableP
          * lit(NearDup.portableCoef(3, 0)) + lit(NearDup.portableCoef(3, 1)))
          % NearDup.PortableP).head
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("abc def".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val base = java.lang.Long.parseLong(hex.take(15), 16)
    assert(got.getLong(0) == base)
    assert(base >= 0L && base < (1L << 60))
    val slot = ((base % NearDup.PortableP) * NearDup.portableCoef(3, 0)
      + NearDup.portableCoef(3, 1)) % NearDup.PortableP
    assert(got.getLong(1) == slot)
    // coefficients stay in [1, P-1]: products bounded < 2^62, ANSI-safe
    assert((0 until 16).forall { i =>
      Seq(0, 1).forall { w =>
        val c = NearDup.portableCoef(i, w); c >= 1 && c < NearDup.PortableP
      }
    })
  }

  test("stratifiedSample: deterministic, subset, rate-proportional") {
    import graft.ops.Sampling
    val df = Tables.events(spark, sfDir)
    val rates = Map("error" -> 100, "click" -> 10)
    val s1 = Sampling.stratifiedSample(df, "event_type", "event_id", rates)
    val kept = s1.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("error") == totals("error"))     // rate 100 keeps all
    assert(!kept.contains("view"))               // default rate 0 drops all
    val clickFrac = kept("click").toDouble / totals("click")
    assert(clickFrac > 0.02 && clickFrac < 0.25, s"click fraction $clickFrac")
    // byte-identical on re-run, and a true subset of the input
    val s2 = Sampling.stratifiedSample(df, "event_type", "event_id", rates)
    assert(s2.count() == s1.count())
    assert(s1.join(df, Seq("event_id"), "left_anti").isEmpty)
  }

  test("dupClusters labels every component with its min doc id") {
    import spark.implicits._
    // components: {1,2,3} (chain 1-2, 2-3), {7,9}, singleton pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = NearDup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // a longer chain still converges (diameter > 1 round)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val c = NearDup.dupClusters(chain).collect().map(_.getLong(1)).distinct
    assert(c.toSeq == Seq(1L))
  }

  test("dupClusters fails instead of returning labels that did not converge") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    // round 1 moves 2→1, 3→2 and 4→3: no fixpoint after one round
    val e = intercept[IllegalStateException](
      NearDup.dupClusters(chain, maxIter = 1))
    assert(e.getMessage.contains("maxIter = 1") &&
      e.getMessage.contains("3 ids changed"), e.getMessage)
    val out = NearDup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    intercept[IllegalArgumentException](NearDup.dupClusters(chain, maxIter = 0))
  }

  test("edge cases: empty pair graph, empty corpus, degenerate strata") {
    import spark.implicits._
    // dupClusters on an empty pair set → empty labels, no infinite loop
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.neardup.NearDup.dupClusters(noPairs).isEmpty)
    // curation on an empty corpus → empty, not an error
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipelines.Curation.curate(noDocs, "doc_id", "text").isEmpty)
    // tfidf on an empty corpus → empty
    assert(TextAnalysis.tfidfTopTerms(noDocs, "doc_id", "text").isEmpty)
    // stratified sample with an empty rate map → default rate applies
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    assert(graft.ops.Sampling.stratifiedSample(df, "s", "k",
      Map.empty[String, Int], defaultRate = 100).count() == 2)
    assert(graft.ops.Sampling.stratifiedSample(df, "s", "k",
      Map.empty[String, Int], defaultRate = 0).isEmpty)
  }

  test("tfidfTopTerms ranks rare terms above ubiquitous ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "common common rare"),
      (2L, "common boring"),
      (3L, "common boring filler")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", k = 2).collect()
    val doc1 = out.filter(_.getLong(0) == 1L).sortBy(_.getAs[Int]("rnk"))
    // "rare" (df=1) outranks "common" (df=3) despite tf 1 vs 2
    assert(doc1.head.getAs[String]("term") == "rare")
    // a term present in EVERY doc has idf ln(1)=0 → score 0
    val commonScores = out.filter(_.getAs[String]("term") == "common")
      .map(_.getAs[Double]("score"))
    assert(commonScores.forall(_ == 0.0))
  }

  test("LSH df-cap drops only super-hot buckets, cold pairs survive") {
    // 30 identical docs → every band bucket they occupy holds 30 docs
    // (super-hot, C(30,2) pair expansion); one near-dup pair lives in
    // cold buckets of size 2
    val hot = (1L to 30L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val cold = Seq(
      (101L, "one two three four five six"),
      (102L, "one two three four five seven"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    def mh(cap: Option[Int]) =
      NearDup.minhashLshPairs(docs, "doc_id", "text", k = 3, numHashes = 16,
          bands = 4, threshold = 0.2, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = mh(None)
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((101L, 102L)))
    val capped = mh(Some(10))
    assert(capped.contains((101L, 102L)))        // cold bucket untouched
    assert(!capped.exists(_._1 <= 30L))          // hot cluster dropped
    // same contract for the simhash chunk banding
    def sh(cap: Option[Int]) =
      NearDup.simhashPairs(docs, "doc_id", "text", maxHamming = 8,
          maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh(None).contains((101L, 102L)))
    val shCapped = sh(Some(10))
    assert(shCapped.contains((101L, 102L)) && !shCapped.exists(_._1 <= 30L))
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Seq(0.6d, 0.8d))).toDF("id", "v")
    val c = df.select(Similarity.cosine(col("v"), col("v")).as("c"))
      .collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosineTopK: k neighbors per query, self excluded, ranked desc") {
    val out = Similarity.cosineTopK(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", col("vec_id") % 100 === 0, k = 3)
    val rows = out.collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.values.forall(_.length == 3))
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("nid")))
    byQ.values.foreach { g =>
      val sims = g.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH bucketed topk is structurally valid (bounded k, query subset)") {
    val emb = Tables.embeddings(spark, sfDir)
    val lsh = Similarity.cosineTopKLsh(emb, "vec_id", "embedding",
      col("vec_id") % 100 === 0, dim = 64, k = 5).collect()
    // recall vs brute force is data-dependent (random vectors bucket almost
    // uniformly), so assert structure: only query ids, self excluded, ≤ k
    // ranked results per query, ranks contiguous from 1.
    assert(lsh.nonEmpty)
    assert(lsh.forall(r => r.getAs[Long]("qid") % 100 == 0))
    assert(lsh.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("nid")))
    lsh.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val rnks = g.map(_.getAs[Long]("rnk")).sorted
      assert(rnks.length <= 5 && rnks.toSeq == (1L to rnks.length).toSeq)
    }
  }

  test("IVF topk is structurally valid and finds mostly-true neighbors") {
    val emb = Tables.embeddings(spark, sfDir)
    val ivf = Similarity.cosineTopKIvf(emb, "vec_id", "embedding",
      col("vec_id") % 100 === 0, nlist = 8, nprobe = 4, k = 3).collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => r.getAs[Long]("qid") % 100 == 0))
    assert(ivf.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("nid")))
    ivf.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val rnks = g.map(_.getAs[Long]("rnk")).sorted
      assert(rnks.length <= 3 && rnks.toSeq == (1L to rnks.length).toSeq)
    }
    // with nprobe = nlist the search is exhaustive → must equal brute force
    val full = Similarity.cosineTopKIvf(emb, "vec_id", "embedding",
      col("vec_id") % 100 === 0, nlist = 8, nprobe = 8, k = 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
      col("vec_id") % 100 === 0, k = 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("PQ rerank equals brute force when the shortlist covers the corpus") {
    // with shortlist ≥ corpus the ADC stage shortlists EVERYTHING and the
    // exact rerank must reproduce brute force bit-for-bit (same rounding,
    // same id tiebreaks) no matter what the codebooks learned. The
    // compression only ever affects which candidates reach the rerank.
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count().toInt
    val pq = Similarity.cosineTopKPq(emb, "vec_id", "embedding",
      col("vec_id") % 100 === 0, dim = 64, m = 8, ksub = 8, shortlist = n, k = 3)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
      col("vec_id") % 100 === 0, k = 3)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq == brute)
  }

  test("IVF output is identical across input partitionings (argmax determinism)") {
    // the assignment argmax is a max_by over a (csim, -cid) ordering
    // struct — distinct per candidate, so which partition sees a row
    // first can never change the winner. A regression to a
    // non-deterministic tiebreak shows up as partition-dependent output.
    // compare ids and ranks, not the sim VALUE: the Lloyd centroid
    // avg() accumulates doubles in partition-dependent order, so sim can
    // legitimately differ by an ulp across partitionings — the argmax
    // contract under test is about WHICH rows win, absorbed by the
    // round(...,6) before ranking
    val emb = Tables.embeddings(spark, sfDir)
    def run(parts: Int) = Similarity.cosineTopKIvf(emb.repartition(parts),
        "vec_id", "embedding", col("vec_id") % 100 === 0,
        nlist = 8, nprobe = 2, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Long]("rnk"))).toSet
    assert(run(1) == run(7))
  }

  test("exact-integer IVF is bit-identical across partitionings, sim included") {
    // the float IVF test above can only compare ids (Lloyd's avg() sums
    // doubles in partition order); the exact-integer path's contract is
    // stronger — integer sums are order-free and the cosine is a fixed
    // IEEE op sequence, so the ENTIRE output (sim values included) must
    // be identical under any partitioning. This is the property that
    // lets x20i run under a byte-compare DuckDB oracle.
    val media = Multimodal.withPayload(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val emb = Multimodal.fakeEmbedInt(spark, media).toDF()
    def run(parts: Int) = Similarity.cosineTopKIvfInt(emb.repartition(parts),
        "doc_id", "embedding", col("doc_id") % 100 === 0,
        nlist = 8, nprobe = 2, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("sim"), r.getAs[Long]("rnk"))).toSet
    assert(run(1) == run(7))
  }

  test("exact-integer IVF equals brute force when nprobe covers all lists") {
    val media = Multimodal.withPayload(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val emb = Multimodal.fakeEmbedInt(spark, media).toDF()
    val full = Similarity.cosineTopKIvfInt(emb, "doc_id", "embedding",
      col("doc_id") % 100 === 0, nlist = 8, nprobe = 8, k = 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineTopK(emb, "doc_id", "embedding",
      col("doc_id") % 100 === 0, k = 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("langId predicts via stopword hits with fixed tie order") {
    val df = Seq((1L, "the cat and the dog of it"), (2L, "der hund und die katze"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df, "doc_id", "text").orderBy("doc_id")
      .select("pred_lang").collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("langIdNgram trains profiles in-plan and classifies deterministically") {
    // two clearly-separable "languages": distinct character inventories
    val df = Seq(
      (1L, "aaab aabb abab aaba", "aa"),
      (2L, "abba baab aaab baba", "aa"),
      (3L, "zzzy zyzy yzzy zyyz", "zz"),
      (4L, "yzzz zzyy zyzz yyzy", "zz"),
      (5L, "aaba abab baba aabb", "aa")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdNgram(df, "doc_id", "text", "lang",
      n = 3, profileSize = 50).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1) == "aa" && out(3) == "zz" && out(5) == "aa")
    // a doc with no profile overlap still gets a prediction ('und')
    val withAlien = df.union(Seq((9L, "qqq", "aa")).toDF("doc_id", "text", "lang"))
    val preds = TextAnalysis.langIdNgram(withAlien, "doc_id", "text", "lang",
      n = 3, profileSize = 3).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds.size == 6 && preds(9L) == "und")
    // deterministic across runs
    val again = TextAnalysis.langIdNgram(df, "doc_id", "text", "lang",
      n = 3, profileSize = 50).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
  }

  test("quality metrics: token counts and ratios") {
    val df = Seq((1L, "Hello, world! This is a test.")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("len_chars") == 29)
    assert(r.getAs[String]("quality_bucket") == "ok")
  }

  test("tokenCounts: ws vs bpe-ish tokenizers") {
    val df = Seq((1L, "abc de-f 42")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("ws_tokens") == 3)
    // abc | de | - | f | 42
    assert(r.getAs[Int]("bpe_tokens") == 5)
  }

  test("fingerprint is whitespace-insensitive; rollingHash is order-sensitive") {
    val df = Seq((1L, "a  b   c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df, "doc_id", "text")
      .collect().map(_.getString(1))
    assert(fp(0) == fp(1))
    val rh = TextAnalysis.rollingHash(df, "doc_id", "text")
      .collect().map(_.getLong(1))
    assert(rh(0) == rh(1) && rh(0) != rh(2))
  }

  test("frameSample fans out bounded frames that reassemble the payload") {
    val media = Multimodal.withPayload(
      Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789")).toDF("doc_id", "text"),
      "doc_id", "text")
    val frames = Multimodal.frameSample(spark, media).collect().sortBy(_.frame_idx)
    assert(frames.length == 4)
    assert(frames.map(_.frame_bytes.length).sum == 36)
    assert(new String(frames.flatMap(_.frame_bytes), "UTF-8") ==
      "abcdefghijklmnopqrstuvwxyz0123456789")
  }

  test("fakeEmbed produces unit-norm deterministic vectors usable by cosine topk") {
    val media = Multimodal.withPayload(
      Seq((1L, "hello world"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text"),
      "doc_id", "text")
    val emb = Multimodal.fakeEmbed(spark, media).collect().sortBy(_.doc_id)
    assert(emb(0).embedding.toSeq == emb(1).embedding.toSeq) // deterministic
    val norm = math.sqrt(emb(0).embedding.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    val top = Similarity.cosineTopK(
      Multimodal.fakeEmbed(spark, media).toDF(), "doc_id", "embedding",
      col("doc_id") === 1, k = 1).collect()
    assert(top.head.getAs[Long]("nid") == 2L) // identical text ranks first
  }

  test("approx_count_distinct is within its error bound of the exact count") {
    // the 5%-band invariant is computed in-plan (approx_ok) so the oracle
    // hash compare enforces it; here we just pin it true on real data
    val rows = graft.SparkEntry.queries("x19_approx_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("approx_ok"),
        s"approx out of band for ${r.getAs[String]("event_type")}")
    }
  }

  test("resizeStub bounds payloads to the byte budget, passes small ones through") {
    val media = Multimodal.withPayload(
      Seq((1L, "x" * 500), (2L, "short")).toDF("doc_id", "text"),
      "doc_id", "text")
    val out = Multimodal.resizeStub(spark, media, target = 64).collect()
      .map(m => m.doc_id -> m.payload).toMap
    assert(out(1L).length <= 64 && out(1L).length > 32) // subsampled, near budget
    assert(out(2L).sameElements("short".getBytes("UTF-8"))) // untouched
    // deterministic
    val again = Multimodal.resizeStub(spark, media, target = 64).collect()
      .map(m => m.doc_id -> m.payload).toMap
    assert(out(1L).sameElements(again(1L)))
  }

  test("multimodal decode stub produces deterministic metadata") {
    val media = Multimodal.withPayload(Seq((7L, "abcd")).toDF("doc_id", "text"),
      "doc_id", "text")
    val m = Multimodal.decodeMeta(spark, media).collect()(0)
    assert(m.n_bytes == 4 && m.fake_width == 4 && m.fake_height == 28 &&
      m.format == "png")
  }

  test("diversity profile: distinct-n drops under template repetition") {
    // "rich" has 6 distinct tokens in 6; "tmpl" repeats one 3-gram —
    // distinct-1 = 3/9, distinct-2 = 4/8 (wrap bigrams differ once)
    val df = Seq(
      (1L, "rich", "alpha beta gamma delta epsilon zeta"),
      (2L, "tmpl", "a b c a b c a b c"),
      (3L, "tmpl", ""))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.diversityProfile(df, "source", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("rich") == ((1L, 6L, 6L, 5L, 1.0, 1.0)))
    // tmpl: 9 tokens {a,b,c}; bigrams: ab,bc,ca repeating -> 3 of 8
    assert(out("tmpl") == ((2L, 9L, 3L, 3L, 0.3333, 0.375)))
    assert(out("tmpl")._5 < out("rich")._5,
      "template corpus must score lower distinct-1")
  }
}
