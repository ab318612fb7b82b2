package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.neardup.Decontaminate
import graft.text.{Pii, TextAnalysis}

/** Hand-checkable fixtures for the training-data curation additions:
  * decontamination, sequence packing, PII redaction, repetition scoring.
  */
class TrainingDataOpsSpec extends SparkSpec {
  import spark.implicits._

  private val eightGram = "one two three four five six seven eight"

  test("decontaminate flags 8-gram overlap with the eval set and cleans it") {
    val eval = Seq((100L, s"prefix $eightGram suffix")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"stolen words $eightGram right here"), // shares the 8-gram
      (2L, "completely unrelated content with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val rep = Decontaminate.report(train, eval, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.keySet == Set(1L), s"expected only doc 1 flagged, got $rep")
    val survivors = Decontaminate.clean(train, eval, "doc_id", "text", k = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(2L))
  }

  test("packing bins by exclusive prefix sum per shard and conserves tokens") {
    // one shard (ids all ≡ 1 mod 8), budget 10, token counts 4/4/4/4:
    // start offsets 0,4,8,12 → seq ids 0,0,0,1 (a doc STARTING inside a
    // sequence belongs to it even if it straddles the boundary)
    val docs = Seq(1L, 9L, 17L, 25L)
      .map(id => (id, "a b c d")).toDF("doc_id", "text")
    val packed = Packing.packSequences(docs, "doc_id", "text",
        budget = 10, shards = 8)
      .orderBy("seq_id").collect()
    assert(packed.map(r => (r.getLong(r.fieldIndex("seq_id")),
      r.getLong(r.fieldIndex("n_docs")))).toSeq == Seq((0L, 3L), (1L, 1L)))
    val total = packed.map(_.getLong(packed.head.fieldIndex("seq_tokens"))).sum
    assert(total == 16L, "packing must conserve the corpus token count")
  }

  test("packSpans splits straddling docs and fills every interior sequence") {
    // one shard, budget 10: doc 1 has 4 tokens [0,4), doc 9 has 25
    // tokens [4,29) straddling seqs 0-2, doc 17 has 3 tokens [29,32).
    // seq 0: docs 1+9 (10 tok), seq 1: doc 9 (10 tok), seq 2: docs 9+17
    // (12 tok? no — seq 2 holds tokens [20,30): 9 from doc 9, 1 from
    // doc 17 = 10), seq 3: trailing partial [30,32) = 2 tokens of doc 17
    val docs = Seq(
      (1L, Seq.fill(4)("a").mkString(" ")),
      (9L, Seq.fill(25)("b").mkString(" ")),
      (17L, Seq.fill(3)("c").mkString(" "))).toDF("doc_id", "text")
    val out = Packing.packSpans(docs, "doc_id", "text", budget = 10, shards = 8)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(r.fieldIndex("seq_id")),
        r.getLong(r.fieldIndex("n_docs")),
        r.getLong(r.fieldIndex("seq_tokens")),
        r.getLong(r.fieldIndex("first_doc")),
        r.getLong(r.fieldIndex("last_doc")))).toSeq
    assert(out == Seq(
      (0L, 2L, 10L, 1L, 9L),
      (1L, 1L, 10L, 9L, 9L),
      (2L, 2L, 10L, 9L, 17L),
      (3L, 1L, 2L, 17L, 17L)), s"got ${out.toList}")
  }

  test("packing shards never mix documents") {
    val docs = (0L until 64L).map(id => (id, "w x y z")).toDF("doc_id", "text")
    val bad = Packing.assignments(docs, "doc_id", "text", budget = 8, shards = 4)
      .filter(col("doc_id") % 4 =!= col("shard")).count()
    assert(bad == 0)
  }

  test("pii redaction replaces emails, IPs, and phones byte-for-byte") {
    val df = Seq(
      (1L, "write to jane.doe+spam@corp.example.org from 192.168.1.77 or call +1-555-867-5309 now"),
      (2L, "no pii here, just words and the number 42"))
      .toDF("doc_id", "text")
    val red = df.select(col("doc_id"), Pii.redactedCol(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(red(1L) == "write to <EMAIL> from <IP> or call <PHONE> now")
    assert(red(2L) == "no pii here, just words and the number 42")
    val counts = Pii.redact(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(counts(1L) == ((1L, 1L, 1L)) && counts(2L) == ((0L, 0L, 0L)))
  }

  test("buildCorpus composes redact → gates → decontaminate → dedup → pack") {
    val eval = Seq(
      (100L, s"prefix $eightGram suffix")).toDF("doc_id", "text")
    val train = Seq(
      // keeper: English, clean, unique after redaction
      (1L, "the quick brown fox jumps over a lazy dog today contact a@b.com"),
      // same natural text, DIFFERENT email — identical to doc 1 only
      // after redaction, so surviving as a dup proves redaction ran
      // before fingerprinting
      (2L, "the quick brown fox jumps over a lazy dog today contact x.y@z.org"),
      // shares the eval 8-gram → decontaminated out
      (3L, s"the story begins $eightGram and ends"),
      // repetitive boilerplate → repetition gate
      (4L, "the cat the cat the cat the cat"),
      // German → language gate
      (5L, "der hund und die katze das ein haus"),
      // two tokens → quality gate (too_short)
      (6L, "tiny doc")).toDF("doc_id", "text")
    val out = graft.pipelines.Curation
      .buildCorpus(train, eval, "doc_id", "text", budget = 256, shards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // only doc 1 survives: 12 tokens incl. the redacted <EMAIL>, shard 1
    assert(out == Set((1L, 0L, 1L, 12L, 1L, 1L)), s"got $out")
  }

  test("buildCorpusV2 span-cuts shared runs and mixes before packing") {
    val eval = Seq((100L, "completely unrelated evaluation material here"))
      .toDF("doc_id", "text")
    // docs 1/2 pass every v1 gate and are NOT whole-doc twins, but they
    // share a verbatim 8-token run — v1 keeps both intact, v2 must cut
    // the shared span from BOTH and pack only the unique tails
    val shared = "the quick brown fox jumps over a lazy"
    val train = Seq(
      (1L, s"$shared dog and the first story ends happily today"),
      (2L, s"$shared dog and the second story ends sadly today"))
      .toDF("doc_id", "text")
    val v2 = graft.pipelines.Curation
      .buildCorpusV2(train.withColumn("source", lit("web")), eval,
        "doc_id", "text", "source", budget = 256, shards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // common prefix = 11 tokens (shared 8 + "dog and the"): four
    // overlapping dup 8-grams (starts 1..4) merge into one covered
    // span 1..11, so 16 - 11 = 5 tokens survive per doc ("first story
    // ends happily today" / "second ... sadly ..."); both docs keep a row
    assert(v2.toSet == Set((1L, 1L, 5L), (2L, 1L, 5L)), s"got $v2")
    val v1 = graft.pipelines.Curation
      .buildCorpus(train, eval, "doc_id", "text", budget = 256, shards = 8)
      .collect().map(r => r.getLong(3)).sum
    assert(v1 == 32L, "v1 packs both docs whole (16 tokens each)")
  }

  test("one CorpusBuildV2 instance serves build AND funnel, equal to an " +
      "INDEPENDENTLY spelled stage chain (not the class's own wrappers)") {
    val eval = Seq((100L, "completely unrelated evaluation material here"))
      .toDF("doc_id", "text")
    val shared = "the quick brown fox jumps over a lazy"
    val train = Seq(
      (1L, s"$shared dog and the first story ends happily today"),
      (2L, s"$shared dog and the second story ends sadly today"),
      (5L, "der hund und die katze das ein haus"),
      (6L, "tiny doc"))
      .toDF("doc_id", "text").withColumn("source", lit("web"))
    val b = new graft.pipelines.CorpusBuildV2(train, eval,
      "doc_id", "text", "source")
    // both artifacts from ONE instance: the stage frames are cached
    // lazy vals, so the second reader reuses the first's work
    val packed = b.packed().collect().map(_.toSeq).toSet
    assert(b.deduped.storageLevel.useMemory,
      "stage frames must be cached for cross-artifact reuse")
    val funnel = b.funnel.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // the expectation is built from the STANDALONE v1 curation chain +
    // the post-dedup stages composed inline — NOT from buildCorpusV2 /
    // curationFunnel, which are thin wrappers over the class under test
    // and would compare the implementation with itself (ADVICE r11).
    // curatedDocs is the v1 fused-keep spelling with its own cache; the
    // class recomputes the gates as three split flags — equal rows is
    // exactly the claim worth pinning.
    val curated = graft.pipelines.Curation
      .curatedDocs(train, eval, "doc_id", "text")
    val spanned = graft.neardup.SpanDedup
      .removeDuplicatedSpans(curated, "doc_id", "text", k = 8)
      .filter(col("n_tokens") - col("n_removed") >= 1)
      .select(col("doc_id"), col("text_clean").as("text"))
    val mixed = Sampling.temperatureSample(
      spanned.join(train.select(col("doc_id"), col("source").as("domain")),
        Seq("doc_id")),
      "domain", "doc_id", tau = 2, buckets = 1000)
    val expectedPacked = Packing.packSequences(
      mixed.select("doc_id", "text"), "doc_id", "text",
      budget = 256, shards = 8).collect().map(_.toSeq).toSet
    assert(packed == expectedPacked,
      s"instance packed != independent v1+span+mix+pack chain")
    // funnel counts against hand-derived goldens for this fixture:
    // doc 6 falls at quality, doc 5 at language, docs 1/2 survive all
    val expectedFunnel = Seq(
      (1L, "input", 4L, 0L), (2L, "quality_gate", 3L, 1L),
      (3L, "language_gate", 2L, 1L), (4L, "repetition_gate", 2L, 0L),
      (5L, "decontaminated", 2L, 0L), (6L, "exact_dedup", 2L, 0L),
      (7L, "span_dedup", 2L, 0L), (8L, "temperature_mix", 2L, 0L))
    assert(funnel.toSeq == expectedFunnel, s"got ${funnel.toSeq}")
    spark.catalog.clearCache()
  }

  test("funnelFused equals the sequential funnel, and the scratch gate " +
      "routes fused below the budget / sequential above it") {
    val eval = Seq((100L, "completely unrelated evaluation material here"))
      .toDF("doc_id", "text")
    val shared = "the quick brown fox jumps over a lazy"
    val train = Seq(
      (1L, s"$shared dog and the first story ends happily today"),
      (2L, s"$shared dog and the second story ends sadly today"),
      (5L, "der hund und die katze das ein haus"),
      (6L, "tiny doc"))
      .toDF("doc_id", "text").withColumn("source", lit("web"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val seqF = rows(new graft.pipelines.CorpusBuildV2(train, eval,
      "doc_id", "text", "source").funnel)
    spark.catalog.clearCache()
    val fused = rows(new graft.pipelines.CorpusBuildV2(train, eval,
      "doc_id", "text", "source").funnelFused)
    assert(fused == seqF, s"fused funnel diverged: $fused vs $seqF")
    spark.catalog.clearCache()
    // the gate: the measured one-job rule (72 GB at 5M docs) fits a
    // 48 GiB budget only below ~3.3M docs; no nDocs ⇒ sequential
    import graft.pipelines.Curation._
    assert(funnelOneJobScratchEstimateMb(5000000L) > funnelDefaultScratchBudgetMb)
    assert(funnelOneJobScratchEstimateMb(1000000L) <= funnelDefaultScratchBudgetMb)
    // and the routed entry stays output-identical under both routes
    val viaFused = rows(curationFunnel(train, eval, "doc_id", "text",
      "source", nDocs = Some(4L)))
    spark.catalog.clearCache()
    val viaSeq = rows(curationFunnel(train, eval, "doc_id", "text",
      "source", nDocs = Some(100000000L)))
    assert(viaFused == seqF && viaSeq == seqF)
    spark.catalog.clearCache()
    // which route ran: the sequential spelling checkpoints each stage
    // count, so its plan reads LogicalRDD leaves; the fused one does not
    def sequential(budget: Long) = curationFunnel(train, eval, "doc_id",
      "text", "source", nDocs = Some(4L), scratchBudgetMb = budget)
      .queryExecution.logical.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => ()
      }.isDefined
    assert(!sequential(funnelDefaultScratchBudgetMb),
      "a fitting corpus must take the fused route")
    // an unknown (non-positive) budget fails closed: sequential
    for (budget <- Seq(0L, -1L))
      assert(sequential(budget), s"budget $budget took the fused route")
    spark.catalog.clearCache()
  }

  test("curationFunnel counts every stage and reconciles with the build") {
    val eval = Seq((100L, "completely unrelated evaluation material here"))
      .toDF("doc_id", "text")
    val shared = "the quick brown fox jumps over a lazy"
    val train = Seq(
      (1L, s"$shared dog and the first story ends happily today"),
      (2L, s"$shared dog and the second story ends sadly today"),
      (5L, "der hund und die katze das ein haus"), // language gate
      (6L, "tiny doc"))                            // quality gate
      .toDF("doc_id", "text").withColumn("source", lit("web"))
    val out = graft.pipelines.Curation
      .curationFunnel(train, eval, "doc_id", "text", "source")
      .orderBy("stage_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).toSeq == Seq("input", "quality_gate",
      "language_gate", "repetition_gate", "decontaminated", "exact_dedup",
      "span_dedup", "temperature_mix"))
    // 4 in; doc 6 falls at quality, doc 5 at language; docs 1/2 survive
    // every later stage (span dedup cuts their shared prefix but leaves
    // both non-empty; one uniform domain keeps everything in the mix)
    assert(out.map(_._3).toSeq == Seq(4L, 3L, 2L, 2L, 2L, 2L, 2L, 2L),
      s"got ${out.toSeq}")
    assert(out.map(_._4).toSeq == Seq(0L, 1L, 1L, 0L, 0L, 0L, 0L, 0L))
    // counts never increase and each drop reconciles with the lag
    assert(out.sliding(2).forall(w => w(1)._3 <= w(0)._3 &&
      w(1)._4 == w(0)._3 - w(1)._3))
  }

  test("incremental curation admits only genuinely-new fingerprints") {
    // the x44 shape: ids with doc_id % 10 < 8 are the existing curated
    // table, the rest today's increment; doc 18 duplicates doc 1's text
    // (modulo whitespace) so its fingerprint already exists and it must
    // NOT be admitted, doc 19 is new content and must come in as is_new
    val good = "the quick brown fox jumps over a lazy dog today"
    val all = Seq(
      (1L, good),
      (18L, "  " + good.replace(" ", "   ")), // same fingerprint as 1
      (19L, "a completely different story about the old house and its owners"))
      .toDF("doc_id", "text")
    val old = graft.pipelines.Curation.curate(
      all.filter(col("doc_id") % 10 < 8), "doc_id", "text", keepPer100 = 100)
    val fresh = graft.pipelines.Curation.curate(
      all.filter(col("doc_id") % 10 >= 8), "doc_id", "text", keepPer100 = 100)
    val admitted = Dedup.insertIfAbsent(fresh, old, Seq("fingerprint"))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(19L), s"expected only doc 19 admitted, got $admitted")
  }

  test("eval coverage reports the train-seen fraction per eval doc") {
    // k=3: eval doc 10 shares its first 3-gram with train doc 1 (1 of
    // its 2 grams -> 0.5); doc 11 shares nothing; doc 12 is shorter
    // than k (zeros)
    val train = Seq((1L, "alpha beta gamma something else entirely"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "completely novel words here"),
      (12L, "too short")).toDF("doc_id", "text")
    val out = Decontaminate.coverage(train, eval, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(10L) == ((2L, 1L, 0.5)))
    assert(out(11L) == ((2L, 0L, 0.0)))
    assert(out(12L) == ((0L, 0L, 0.0)))
  }

  test("vocabGrowth accumulates first-seen terms per id bucket") {
    // bucket size 10: ids 0-9 introduce {a,b}, ids 10-19 re-use {a}
    // and introduce {c}, ids 20-29 introduce nothing new
    val df = Seq(
      (0L, "a b a"), (1L, "b b"),
      (10L, "a c"), (11L, "c c c"),
      (20L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(df, "doc_id", "text", bucketDocs = 10)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 2L, 5L, 2L, 5L, 2L),
      (1L, 2L, 5L, 1L, 10L, 3L),
      (2L, 1L, 3L, 0L, 13L, 3L)), s"got ${out.toSeq}")
  }

  test("rebalance keeps the smallest domain whole and downsamples the rest") {
    // 10 book docs vs 200 web docs: books keep all rows, web lands near
    // the books' size; the kept set is a pure function of the ids
    val docs = ((0L until 10L).map(id => (id, "books")) ++
      (1000L until 1200L).map(id => (id, "web"))).toDF("doc_id", "source")
    val kept = Sampling.rebalance(docs, "source", "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("books") == 10L, s"smallest domain must keep all rows: $kept")
    assert(kept("web") <= 30L && kept("web") >= 2L,
      s"web should downsample toward ~10 rows, got $kept")
    // determinism: a second run yields the identical id set
    val ids1 = Sampling.rebalance(docs, "source", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.rebalance(docs, "source", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("temperatureSample overflow guard: boundary exact, beyond rejected") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    // (tau=4, buckets=1000) → 1e12 > 1e9: must fail at PLAN time (the
    // r10 guard), not as an ANSI overflow mid-job
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureSample(docs, "source", "doc_id",
        tau = 4, buckets = 1000)
    }
    assert(e.getMessage.contains("exceeds 1e9"))
    // the EXACT boundary 1000^3 == 1e9 must be admitted — integer
    // repeated multiplication, no float-pow 1-ulp slack (ADVICE r10)
    val boundary = Sampling.temperatureSample(docs, "source", "doc_id",
      tau = 3, buckets = 1000)
    assert(boundary.count() >= 1L)
    // coarser grid buys exponent range: 100^4 = 1e8 admitted
    assert(Sampling.temperatureSample(docs, "source", "doc_id",
      tau = 4, buckets = 100).count() >= 1L)
  }

  test("temperatureSample keeps the tail whole and keeps ~sqrt-rate of the head") {
    // 16 book docs vs 1600 web docs (100× head): τ=2 keeps all books
    // and ~sqrt(16/1600) = 10% of web — vs rebalance's 1%; kept mass
    // grows with domain size (unlike the uniform mixture)
    val docs = ((0L until 16L).map(id => (id, "books")) ++
      (1000L until 2600L).map(id => (id, "web"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(docs, "source", "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("books") == 16L, s"smallest domain must keep all rows: $kept")
    assert(kept("web") >= 80L && kept("web") <= 320L,
      s"web should keep ~10% (160), got $kept")
    assert(kept("web") > kept("books"),
      "kept mass must still grow with domain size (tail upweighted, not flattened)")
    // τ=1 degenerates to the uniform rebalance: same kept id set
    val t1 = Sampling.temperatureSample(docs, "source", "doc_id",
      tau = 1, buckets = 100).select("doc_id").as[Long].collect().toSet
    val rb = Sampling.rebalance(docs, "source", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(t1 == rb, "tau=1 must reproduce rebalance exactly")
    // determinism across partitionings
    val a = Sampling.temperatureSample(docs.repartition(7), "source", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.temperatureSample(docs, "source", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("domainCap keeps the K best-scored docs per domain, id-tiebroken") {
    // web has 12 docs with score = id%5 (ties galore); books has 2
    val docs = ((0L until 12L).map(id => (id, "web", id % 5)) ++
      Seq((100L, "books", 9L), (101L, "books", 1L)))
      .toDF("doc_id", "source", "s")
    val kept = Sampling.domainCap(docs, "doc_id", "source", col("s"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    val web = kept.filter(_._2 == "web").sortBy(_._3).map(_._1).toSeq
    // scores: ids 4,9 have s=4; ids 3,8 have s=3 — top-3 = 4,9 then the
    // LOWER id of the s=3 tie
    assert(web == Seq(4L, 9L, 3L), s"wrong web top-3: $web")
    // a domain under the cap keeps everything
    assert(kept.count(_._2 == "books") == 2)
    // rank column is dense 1..k
    assert(kept.filter(_._2 == "web").map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("quality classifier learns term affinities from the rule labels") {
    // d1/d2 pass the heuristic gate, d3 is too_short junk. 'bad'/'junk'
    // occur only in junk → w = (0+1)·10⁶ div 3 − 5·10⁵ = −166667 each,
    // so d3 scores exactly −333334 and classifies negative; the ok docs
    // are sums of positive-affinity terms
    val df = Seq(
      (1L, "good words appear here often today"),
      (2L, "good words appear here again tomorrow"),
      (3L, "bad junk")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassifier(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(3L) == ((-333334L, false)), s"junk doc mis-scored: $out")
    assert(out(1L)._2 && out(2L)._2, s"ok docs must classify positive: $out")
  }

  test("rebalanceBy targets token MASS, not doc count") {
    // books: one 10-token doc (mass 10). web: 100 ten-token docs (mass
    // 1000, rate 1%). books keep everything; web's kept mass heads
    // toward ~10 and must stay far below its total
    val docs = ((0L to 0L).map(id => (id, "books", 10L)) ++
      (100L until 200L).map(id => (id, "web", 10L)))
      .toDF("doc_id", "source", "n_tokens")
    val kept = Sampling.rebalanceBy(docs, "source", "doc_id", col("n_tokens"))
      .groupBy("source").agg(sum("n_tokens").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("books") == 10L, s"smallest-mass domain must keep all: $kept")
    assert(kept.getOrElse("web", 0L) <= 200L,
      s"web kept mass should collapse toward ~10, got $kept")
  }

  test("repetition ratio counts duplicate 2-grams; short docs are exempt") {
    val df = Seq(
      (1L, "a b a b a b"), // grams: ab ba ab ba ab → 5 total, 2 distinct
      (2L, "all words here are different ones"),
      (3L, "solo")) // < 2 tokens → no grams, never repetitive
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df, "doc_id", "text", n = 2, threshold = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((5L, 2L, 0.6, true)))
    assert(out(2L) == ((5L, 5L, 0.0, false)))
    assert(out(3L) == ((0L, 0L, 0.0, false)))
  }
}
