package graft.props

import graft.SparkSpec
import graft.ops.{Dedup, Percentiles, TopK}
import graft.sim.CellShape
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5): dedup idempotence,
  * percentile bounds, top-k ⊆ sorted prefix — over ScalaCheck-generated
  * inputs with fixed seeds (deterministic CI; each check is a full Spark
  * job, so the sample count is kept small).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val p = Gen.Parameters.default.withSize(40)
    (0 until n).flatMap(i => g.apply(p, Seed(42L + i)))
  }

  private val valuesGen: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)).map(_.map(v => math.rint(v * 100) / 100))

  test("percentile bounds: p_lo <= p_hi, both within [min, max]") {
    samples(valuesGen, 5).foreach { vs =>
      val r = Percentiles.bounds(vs.toDF("v"), "v", 0.05, 0.95).collect()(0)
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      assert(lo <= hi && lo >= vs.min && hi <= vs.max, s"bounds $lo..$hi of $vs")
    }
  }

  test("filterWithinPercentiles output is a sub-multiset of the input") {
    samples(valuesGen, 5).foreach { vs =>
      val out = Percentiles.filterWithinPercentiles(vs.toDF("v"), "v")
        .collect().map(_.getDouble(0))
      val inCounts = vs.groupBy(identity).view.mapValues(_.size).toMap
      val outCounts = out.groupBy(identity).view.mapValues(_.size)
      assert(outCounts.forall { case (v, n) => n <= inCounts.getOrElse(v, 0) })
    }
  }

  test("topK equals the sorted prefix of the input") {
    samples(Gen.zip(valuesGen, Gen.chooseNum(1, 10)), 5).foreach { case (vs, k) =>
      val indexed = vs.zipWithIndex
      val got = TopK.topK(indexed.toDF("v", "i"), k, col("v").desc, col("i").asc)
        .collect().map(r => (r.getDouble(0), r.getInt(1))).toList
      val want = indexed.sortBy { case (v, i) => (-v, i) }.take(k)
      assert(got == want)
    }
  }

  test("keepFirst dedup is idempotent and keeps the minimum per key") {
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0, 20), Gen.chooseNum(0, 1000)))
    samples(rowsGen, 5).foreach { rows =>
      val df = rows.toDF("k", "ord")
      val once = Dedup.keepFirst(df, Seq("k"), Seq(col("ord").asc, col("k").asc))
      val onceRows = once.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(onceRows.size == rows.map(_._1).distinct.size)
      val mins = rows.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      assert(onceRows.forall { case (k, ord) => mins(k) == ord })
      val twice = Dedup.keepFirst(once, Seq("k"), Seq(col("ord").asc, col("k").asc))
      assert(twice.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == onceRows)
    }
  }

  test("fingerprint: whitespace-normalized equality, content sensitivity") {
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta"))
    samples(wordGen, 5).foreach { words =>
      val text = words.mkString(" ")
      val spaced = words.mkString("   ") + " "
      val df = Seq((1L, text), (2L, spaced), (3L, text + " extra")).toDF("doc_id", "text")
      val fp = TextAnalysis.fingerprint(df, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.getString(1))
      assert(fp(0) == fp(1) && fp(0) != fp(2))
    }
  }

  test("dupClusters equals a reference union-find on random pair graphs") {
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 25L), Gen.chooseNum(0L, 25L)))
      .map(_.filter(e => e._1 != e._2))
    samples(edgeGen, 3).filter(_.nonEmpty).foreach { es =>
      val out = graft.neardup.NearDup.dupClusters(es.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: union-find linking larger root under smaller, so every
      // root is its component's minimum
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      assert(out == expected, s"edges $es")
    }
  }

  test("packing conserves tokens, bins by budget, and never mixes shards") {
    val docsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 500L),
      Gen.chooseNum(1, 30).map(n => List.fill(n)("w").mkString(" "))))
      .map(_.distinctBy(_._1))
    samples(Gen.zip(docsGen, Gen.chooseNum(8, 64)), 3).foreach { case (ds, budget) =>
      val df = ds.toDF("doc_id", "text")
      val out = graft.ops.Packing.packSequences(df, "doc_id", "text",
        budget = budget, shards = 4).collect()
      val totalTokens = ds.map(_._2.split(" ").length.toLong).sum
      assert(out.map(_.getAs[Long]("seq_tokens")).sum == totalTokens,
        s"token count not conserved for budget=$budget docs=$ds")
      // per-doc assignment equals a local reference implementation of
      // the exclusive-prefix-sum binning (ids can SKIP bins when a doc
      // straddles sequences — a start-bin gap is correct, not a bug)
      val assigns = graft.ops.Packing.assignments(df, "doc_id", "text",
        budget = budget, shards = 4).collect()
        .map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Long]("shard"), r.getAs[Long]("seq_id"),
            r.getAs[Long]("start_offset")))).toMap
      val expected = ds.sortBy(_._1).groupBy(_._1 % 4).flatMap { case (shard, docs) =>
        var cum = 0L
        docs.map { case (id, text) =>
          val n = text.split(" ").length.toLong
          val start = cum; cum += n
          id -> ((shard, start / budget, start % budget))
        }
      }
      assert(assigns == expected, s"assignments diverge for budget=$budget docs=$ds")
    }
  }

  test("rebalance: smallest domain survives whole; kept set is stable") {
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 300L), Gen.oneOf("a", "b", "c")))
      .map(_.distinctBy(_._1))
    samples(rowsGen, 3).foreach { rows =>
      val df = rows.toDF("doc_id", "source")
      val kept = graft.ops.Sampling.rebalance(df, "source", "doc_id")
        .select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val minSize = sizes.values.min
      // every smallest domain keeps all rows (rate = 100%)
      sizes.filter(_._2 == minSize).keys.foreach { s =>
        assert(kept.count(_._2 == s) == minSize, s"domain $s lost rows: $rows")
      }
      // kept ⊆ input and deterministic across runs
      assert(kept.subsetOf(rows.map(r => (r._1, r._2)).toSet))
      val again = graft.ops.Sampling.rebalance(df, "source", "doc_id")
        .select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(again == kept)
    }
  }

  test("shuffleShard: total bijective layout with dense per-shard positions") {
    val idsGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 100000L)).map(_.distinct)
    samples(Gen.zip(idsGen, Gen.chooseNum(1, 12)), 4).foreach { case (ids, n) =>
      val out = graft.ops.Sharding.shuffleShard(ids.toDF("doc_id"), "doc_id", n)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      // one row per id, shard within range, positions dense 1..size
      assert(out.map(_._1).toSet == ids.toSet)
      assert(out.forall(r => r._2 >= 0 && r._2 < n))
      out.groupBy(_._2).foreach { case (s, rs) =>
        assert(rs.map(_._3).sorted.toSeq == (1L to rs.length),
          s"shard $s positions not dense for n=$n ids=${ids.take(5)}…")
      }
    }
  }

  test("domainCap: kept ⊆ input, ≤ k per domain, under-cap domains whole") {
    val rowGen = Gen.zip(Gen.chooseNum(0L, 5000L),
      Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 50L))
    val dfGen = Gen.nonEmptyListOf(rowGen).map(_.distinctBy(_._1))
    samples(Gen.zip(dfGen, Gen.chooseNum(1, 6)), 4).foreach { case (rows, k) =>
      val kept = graft.ops.Sampling
        .domainCap(rows.toDF("doc_id", "source", "s"), "doc_id", "source",
          col("s"), k)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val byDomain = rows.groupBy(_._2)
      assert(kept.toSet.subsetOf(rows.map(r => (r._1, r._2)).toSet))
      byDomain.foreach { case (dom, rs) =>
        val got = kept.count(_._2 == dom)
        assert(got == math.min(k, rs.length),
          s"domain $dom kept $got of ${rs.length} at k=$k")
      }
    }
  }

  test("semDedupInt: identical vectors collapse to exactly the lowest id") {
    val grpGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 400L)).map(_.distinct)
    samples(grpGen, 3).foreach { ids =>
      // every doc carries the SAME vector: whatever the clustering does,
      // exactly one doc (the global minimum id — all land in one
      // cluster since assignment is deterministic on equal vectors)
      // must survive
      val df = ids.map(id => (id, Seq(3L, 1L, 4L, 1L)))
        .toDF("doc_id", "embedding")
      val kept = graft.sim.Similarity
        .semDedup(df, "doc_id", "embedding", CellShape.Flat(4), threshold = 0.999)
        .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSeq
      assert(kept == Seq(ids.min),
        s"expected sole survivor ${ids.min}, got $kept from ${ids.sorted.take(8)}…")
    }
  }

  test("CellShape: Hier(nlist, 1) dedups exactly like Flat(nlist) on random integer embeddings") {
    // small components (negatives and zero vectors included) so exact
    // and near duplicates occur; ≤ 60 rows × 4 dims keeps it cheap
    val corpusGen = for {
      n <- Gen.chooseNum(2, 60)
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-3L, 6L)))
      nlist <- Gen.chooseNum(1, 6)
    } yield (vecs.zipWithIndex.map { case (v, i) => (i * 7L + 3L, v) }, nlist)
    samples(corpusGen, 3).foreach { case (rows, nlist) =>
      val df = rows.toDF("doc_id", "embedding")
      def dedup(shape: CellShape) = graft.sim.Similarity
        .semDedup(df, "doc_id", "embedding", shape, threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val flat = dedup(CellShape.Flat(nlist))
      assert(flat.size == rows.size, "one output row per document")
      assert(dedup(CellShape.Hier(nlist, 1)) == flat,
        s"Hier($nlist, 1) diverged from Flat($nlist) on ${rows.size} rows")
    }
  }

  test("CellShape.auto is flat below clusterSize²/2 and hier at or above it") {
    val argsGen = for {
      clusterSize <- Gen.chooseNum(1, 3000)
      minNlist <- Gen.chooseNum(1, 64)
      minCoarse <- Gen.chooseNum(1, minNlist)
      cross = clusterSize.toLong * clusterSize / 2
      n <- Gen.oneOf(Gen.chooseNum(0L, 2 * cross + 10),
        Gen.oneOf(cross - 1, cross, cross + 1).map(math.max(0L, _)))
    } yield (n, minNlist, clusterSize, minCoarse)
    samples(argsGen, 200).foreach { case (n, minNlist, cs, minCoarse) =>
      val auto = CellShape.auto(n, minNlist, cs, minCoarse)
      if (n < cs.toLong * cs / 2) assert(auto == CellShape.flat(n, minNlist))
      else assert(auto == CellShape.hier(n, minNlist, cs, minCoarse))
    }
  }

  test("upsertByKey: idempotent, key-complete, incoming wins") {
    val kvGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 1000L)))
      .map(_.distinctBy(_._1))
    samples(Gen.zip(kvGen, kvGen), 3).foreach { case (e, i) =>
      val existing = e.toDF("k", "v"); val incoming = i.toDF("k", "v")
      val once = graft.ops.Incremental.upsertByKey(existing, incoming, Seq("k"))
      val onceRows = once.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // key set is the union; every incoming key carries the incoming value
      assert(onceRows.map(_._1) == (e.map(_._1) ++ i.map(_._1)).toSet)
      val iMap = i.toMap
      assert(onceRows.forall { case (k, v) => iMap.get(k).forall(_ == v) })
      val twice = graft.ops.Incremental.upsertByKey(once, incoming, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(twice == onceRows)
    }
  }

  test("paragraph dedup: kept total = distinct paragraphs; idempotent") {
    val paraAlphabet = Seq("shared header line", "alpha body", "beta body",
      "common footer", "gamma text", "delta text")
    val docGen = Gen.listOfN(8, Gen.chooseNum(0, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(paraAlphabet))))
    samples(docGen, 3).foreach { corpus =>
      val docs = corpus.zipWithIndex
        .map { case (ps, i) => (i.toLong, ps.mkString("\n")) }
      val out = graft.neardup.ParaDedup
        .dedupParagraphs(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3)))
      // totality + per-doc sanity
      assert(out.length == docs.length)
      val paraCounts = docs.map { case (id, _) => id -> corpus(id.toInt).size }.toMap
      out.foreach { case (id, nPara, nKept, _) =>
        assert(nPara == paraCounts(id) && nKept <= nPara, s"doc $id: $nPara/$nKept")
      }
      // the survivors across the corpus are EXACTLY the distinct paragraphs
      val keptParas = out.flatMap(_._4.split("\n").filter(_.nonEmpty))
      val distinct = corpus.flatten.distinct
      assert(keptParas.sorted.toSeq == distinct.sorted,
        s"kept ${keptParas.toSeq} != distinct $distinct")
      // idempotence: rebuilt texts contain no duplicate paragraph anywhere
      val again = graft.neardup.ParaDedup
        .dedupParagraphs(out.toSeq.map(r => (r._1, r._4)).toDF("doc_id", "text"),
          "doc_id", "text")
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(again.forall { case (n, k) => n == k }, "second pass dropped rows")
    }
  }

  test("span dedup matches a brute-force coverage oracle") {
    // tiny alphabet + short docs ⇒ dup-dense corpora with overlapping
    // covered spans — the regime where the relational spelling could
    // diverge from the per-position definition
    val tokGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c"))
    val corpusGen = Gen.listOfN(5, tokGen)
    samples(corpusGen, 3).foreach { corpus =>
      val k = 3
      val docs = corpus.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val occ = corpus.flatMap(_.sliding(k).filter(_.size == k).map(_.mkString(" ")))
        .groupBy(identity).view.mapValues(_.size).toMap
      val expected = corpus.map { ts =>
        val starts = ts.sliding(k).zipWithIndex
          .collect { case (g, idx) if g.size == k && occ(g.mkString(" ")) >= 2 => idx }
          .toList
        val covered = starts.flatMap(s => s until s + k).toSet
        val kept = ts.zipWithIndex.collect { case (t, p) if !covered(p) => t }
        (ts.size.toLong, covered.size.toLong, kept.mkString(" "))
      }
      val out = graft.neardup.SpanDedup
        .removeDuplicatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k = k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      expected.zipWithIndex.foreach { case (e, i) =>
        assert(out(i.toLong) == e, s"doc $i: got ${out(i.toLong)}, want $e")
      }
    }
  }

  test("temperatureSample: τ-monotone kept sets; smallest domain whole") {
    // ids include negatives (hashBucket's TOTAL-domain contract); the
    // τ=1 predicate h·n_d < n_min·B implies the τ=2 one h²·n_d <
    // n_min·B² (multiply by h < B), so kept sets must nest as τ grows
    val domGen = Gen.listOfN(60, Gen.frequency(4 -> "web", 2 -> "news", 1 -> "books"))
    samples(domGen, 3).foreach { doms =>
      val df = doms.zipWithIndex
        .map { case (s, i) => (i.toLong * 7L - 100L, s) }
        .toDF("doc_id", "source")
      def kept(tau: Int) = graft.ops.Sampling
        .temperatureSample(df, "source", "doc_id", tau = tau, buckets = 50)
        .select("doc_id").as[Long].collect().toSet
      val (k1, k2, k3) = (kept(1), kept(2), kept(3))
      assert(k1.subsetOf(k2) && k2.subsetOf(k3), "kept sets must nest in τ")
      val smallest = doms.groupBy(identity).view.mapValues(_.size).toSeq
        .minBy { case (s, n) => (n, s) }._1
      val smallestIds = doms.zipWithIndex
        .collect { case (s, i) if s == smallest => i.toLong * 7L - 100L }.toSet
      Seq(k1, k2, k3).foreach(ks => assert(smallestIds.subsetOf(ks),
        s"smallest domain $smallest must survive whole"))
    }
  }

  test("dup-gram profile matches a brute-force Scala oracle") {
    val tokGen = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e"))
    val corpusGen = Gen.listOfN(6, tokGen)
    samples(corpusGen, 3).foreach { corpus =>
      val k = 3
      val docs = corpus.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      // brute-force: distinct k-grams per doc, df over docs, n_dup = df>=2
      val gramsPerDoc = corpus.map(_.sliding(k).filter(_.size == k)
        .map(_.mkString(" ")).toSet)
      val df = gramsPerDoc.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val out = graft.neardup.NearDup
        .dupGramProfile(docs.toDF("doc_id", "text"), "doc_id", "text", k = k)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      gramsPerDoc.zipWithIndex.foreach { case (gs, i) =>
        val wantDup = gs.count(g => df(g) >= 2)
        assert(out(i.toLong) == ((gs.size.toLong, wantDup.toLong)),
          s"doc $i: got ${out(i.toLong)}, want (${gs.size}, $wantDup)")
      }
    }
  }
}
