package graft.neardup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Near-duplicate detection for web-scale corpora: word-shingle Jaccard,
  * MinHash+LSH, and SimHash. These are the scale path for dedup — the
  * exact-pair Jaccard join is the verifiable baseline, MinHash/LSH bounds
  * candidate generation so the pair space never goes quadratic.
  *
  * Scale design:
  *  - shingle inverted-index join: pairs are generated ONLY for docs
  *    sharing a shingle (and hot shingles can be capped), never by
  *    cross-joining the corpus.
  *  - MinHash/LSH: k independent hash slots per doc (fixed-size signature
  *    regardless of doc length), banded into b buckets; candidates are
  *    pairs sharing a band bucket — expected work is linear in corpus
  *    size for bounded near-dup density. Signatures are computed with
  *    codegen'd higher-order functions, no UDFs.
  *  - SimHash: one 64-bit signature per doc; banding on 16-bit chunks
  *    finds all pairs within Hamming distance 3·16-bit-chunk guarantee,
  *    verified exactly with bit_count(xor).
  *
  * Pinning rule: a function pins (`.cache()`s) a frame it derives itself
  * when two or more of its own later steps read that frame; it never
  * pins a frame its caller passed in. A step is one operator over the
  * frame — an aggregate, an anti join, a join — so the two sides of one
  * self-join, or one per-doc frame joined to both ends of a pair, are
  * one read (the DuckDB twins spell each as one CTE). Under the rule:
  *  - [[jaccardPairs]] and [[minhashLshPairs]] pin their shingles;
  *  - [[jaccardPairsOver]] pins the df-capped index it derives when a
  *    cap applies (sizes and the pair join read it), never its `sh`;
  *  - the MinHash and SimHash banding pins its band index when a
  *    hot-bucket cap applies (the hot aggregate and the anti join read
  *    it, and the signature aggregate under it is the costly part).
  * Pins are session-scoped: the session owner releases them with
  * `spark.catalog.clearCache()` (README, "Cache lifecycle contract").
  * A caller that shares one frame between several operators pins it
  * itself. [[dupClusters]]' pins are scoped to its loop (see there).
  */
object NearDup {

  /** Distinct word k-shingles per doc: (id, shingle). Docs shorter than k
    * tokens produce no shingles (mirrors the oracle's explicit guard).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    shinglesFromToks(tokenized(df, idCol, textCol), k)

  /** The `(id, toks)` frame every `…FromToks` core takes. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))

  /** [[shingles]] over an ALREADY-TOKENIZED `(id, toks)` frame — the
    * seam that lets a multi-family consumer (the x58 drift gate, the
    * x34 recall gate) tokenize the corpus ONCE and feed both the
    * shingle index and the simhash explode from the same cached frame
    * (round 18; previously each family re-ran the tokenizer per pass).
    */
  def shinglesFromToks(toks: DataFrame, k: Int): DataFrame =
    kGrams(toks, k).distinct()

  /** Every word k-gram occurrence of an `(id, toks)` frame: (id,
    * shingle), one row per window, before any de-duplication. Docs
    * shorter than k tokens produce none.
    */
  private def kGrams(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("toks")) >= k)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(k))))).as("shingle"))

  /** Distinct character n-grams per doc as an inverted index —
    * (id, shingle) like `shingles`, but over characters instead of word
    * windows (the n-gram-Jaccard dedup variant: robust to tokenization
    * and whitespace damage where word shingles are not). Dedup happens
    * in the exploded shuffle (`distinct`), not via per-row
    * `array_distinct` — the array form is O(grams²) per doc and char
    * docs carry hundreds of grams.
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5): DataFrame =
    df.select(col(idCol).as("id"), lower(trim(col(textCol))).as("t"))
      .select(col("id"), explode(
        graft.functions.CharNGrams.charNGrams(col("t"), n)).as("shingle"))
      .distinct()

  /** Exact pairwise Jaccard over a prebuilt (id, shingle) inverted
    * index. Only pairs sharing ≥1 shingle are materialized.
    *
    * `maxDocFreq` drops shingles present in more than that many docs
    * BEFORE the pair join — mandatory for character grams, whose common
    * substrings appear in nearly every document and blow the join up to
    * Σ C(df, 2) pairs (measured: 874s vs ~2s at sf0.1 for char 5-grams
    * uncapped vs capped). Ubiquitous grams carry no dedup signal, so the
    * resulting "Jaccard over discriminative grams" is the sharper
    * near-dup metric anyway; set sizes are computed on the SAME filtered
    * index so the ratio stays internally consistent (and the oracle
    * replicates the cap). The capped index feeds sizes and the pair
    * join, so it is pinned (header rule); uncapped, the join reads the
    * caller's `sh` as given — a caller that shares `sh` with another
    * operator, or whose `sh` the cap's aggregate and anti join would
    * both re-derive, pins it itself.
    *
    * `probePred` (optional, on column `id`) restricts the PROBE side of
    * the pair join — only pairs whose smaller id satisfies it are
    * produced. The recall gates use a fixed-count id sample here so
    * their exact-truth enumeration stays linear in corpus size (the
    * signature/size scans remain full — both ids of a surviving pair
    * need sizes); production dedup passes None.
    */
  def jaccardPairsOver(sh: DataFrame, threshold: Double,
                       maxDocFreq: Option[Int] = None,
                       probePred: Option[Column] = None): DataFrame = {
    val idx = maxDocFreq match {
      case None => sh
      case Some(cap) =>
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("shingle")
        sh.join(hot, Seq("shingle"), "left_anti").cache()
    }
    // Fingerprint join keys: tried and REVERTED (round 18). A 64-bit
    // xxhash64(shingle) leading the pair join's key list — with the
    // exact-string equality kept as the residual conjunct, so output
    // was provably unchanged — measured FLAT at sf0.1 (every pair join
    // is a broadcast there; key bytes can't show) and a regression at
    // v2-500k in the sort-merge regime (x31 69.4 → 153.8 s, x02
    // 119.8 → 143.7 s, paired same-boot arms): the string still ships
    // as the residual payload, so no exchange bytes were saved, the
    // sort's 8-byte key-prefix comparison already resolves most string
    // comparisons early, and keying on (fp, shingle) stops the pair
    // join from sharing the hot-cap aggregate's shingle partitioning.
    // Guide §1.1's "fresh implementation of the ideal plan is usually
    // slower" — the string-keyed join stays.
    val sizes = idx.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val probe = probePred.map(idx.filter).getOrElse(idx)
    val inter = probe.as("a")
      .join(idx.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Exact pairwise Jaccard over the WORD-shingle inverted index; see
    * `jaccardPairsOver` (and `charShingles` for the character-gram
    * variant). Output: doc_a < doc_b, n_common, jaccard. The shingles
    * are pinned: the cap's hot-gram aggregate and anti join (uncapped:
    * the sizes aggregate and the pair join) both read them.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Option[Int] = None,
                   probePred: Option[Column] = None): DataFrame =
    jaccardPairsOver(shingles(df, idCol, textCol, k).cache(), threshold,
      maxDocFreq, probePred)

  /** Per-document duplicated-n-gram profile — the cut signal behind
    * exact-substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022: substrings repeated verbatim
    * across a corpus are memorization fuel). For each doc: how many of
    * its distinct word k-grams also appear verbatim in at least one
    * OTHER document (`df >= 2` over the distinct-per-doc inverted
    * index), plus the fraction — a curation pass drops or trims docs
    * above a dup_frac threshold. TOTAL over the input: docs shorter
    * than k tokens report zeros.
    *
    * Scale design: three linear exchanges — the gram-frequency
    * aggregate (map-side combinable), the equi-join back on the gram
    * key (reuses the aggregate's partitioning; each index row matches
    * exactly ONE frequency row, so a ubiquitous boilerplate gram is an
    * AQE-splittable join key, never a fan-out), and the per-doc
    * rollup. Nothing is quadratic in corpus size and no suffix array
    * is materialized — this is the bounded, distributable form of the
    * suffix-array scan.
    *
    * All three exchanges key on the gram's 60-bit [[portableBase]]
    * (computed map-side in the explode projection), not the ~60-byte
    * k-word string — the round-14 spill-wall fix, see [[SpanDedup]].
    * A base collision merges two distinct grams' frequencies (birthday
    * bound ~n²/2^61 — negligible, and replayed identically by the
    * md5-based oracle).
    */
  def dupGramProfile(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    val sh = kGrams(tokenized(df, idCol, textCol), k)
      .select(col("id"), portableBase(col("shingle")).as("gk"))
      .distinct()
    val freq = sh.groupBy("gk").agg(count(lit(1)).as("df"))
    val stats = sh.join(freq, Seq("gk"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, 1)).as("n_dup"))
    df.select(col(idCol).as("doc_id"))
      .join(stats.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup") * lit(1.0) / col("n_grams"), lit(0.0)), 4)
          .as("dup_frac"))
  }

  /** Cross-engine-portable hashing (the `portable = true` paths).
    *
    * Engine hashes (Spark murmur3/xxhash64) are JVM-internal, so a
    * DuckDB oracle can't rebuild their band buckets — those paths can
    * only ever be rows-only-checked. The portable scheme derives
    * everything from md5 (bit-identical in every engine) plus integer
    * arithmetic that is exact in both engines:
    *
    *  - `portableBase(s)`: the first 15 hex nibbles of md5(s) as a
    *    60-bit non-negative long. 15 nibbles (not 16) keeps every value
    *    and shift strictly inside the positive signed-64 range, so no
    *    engine ever hits sign/overflow divergence. ONE md5 per row —
    *    the seeded variants below are cheap affine maps, not re-hashes
    *    (an md5-per-seed draft measured 6× slower at sf0.1).
    *  - MinHash slots: `(a_i * (base % P) + b_i) % P` with
    *    P = 2147483647 (2^31-1) and splitmix64-derived coefficients in
    *    [1, P-1] (`portableCoef`). Products stay < 2^62: ANSI-safe.
    *  - Band keys: two degree-(rows-1) polynomials of the slot values
    *    (bases 31 and 97) mod P, packed as `c1 * P + c2` — a 62-bit key,
    *    collision-negligible, pure integer ops both engines.
    *
    * Production default stays murmur/xxhash (cheaper, no cryptographic
    * work); portable is what the x03/x04/x28 catalog entries run so the
    * LSH candidate SETS are oracle-checked end-to-end.
    */
  val PortableP = 2147483647L // 2^31 - 1

  def portableBase(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Affine coefficient for the i-th portable minhash function: a
    * splitmix64 finalizer step reduced into [1, P-1]. Pure function of
    * (i, which) — the oracle SQL interpolates the same values as
    * literals (computed here, never hand-written).
    */
  def portableCoef(i: Int, which: Int): Long = {
    var z = ((i.toLong << 1) | which.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    Math.floorMod(z, PortableP - 1) + 1
  }

  /** MinHash signature: for each of `numHashes` hash functions (seeded
    * Murmur3 by default; md5-base affine permutations when `portable`),
    * the min hash over the doc's shingles. Fixed-size per doc.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int,
                        portable: Boolean = false): DataFrame = {
    if (portable) {
      // one md5 per (id, shingle) row, then numHashes affine maps — the
      // permutation family is applied to the PRE-projected base so the
      // cryptographic work doesn't multiply with numHashes
      val pre = sh.select(col("id"), (portableBase(col("shingle")) % PortableP).as("hb"))
      val slots = (0 until numHashes).map { i =>
        min((lit(portableCoef(i, 0)) * col("hb") + lit(portableCoef(i, 1))) % PortableP)
          .as(s"mh_$i")
      }
      pre.groupBy("id").agg(slots.head, slots.tail: _*)
    } else {
      val slots = (0 until numHashes).map(i =>
        min(hash(col("shingle"), lit(i))).as(s"mh_$i"))
      sh.groupBy("id").agg(slots.head, slots.tail: _*)
    }
  }

  private def intPow(k: Long, e: Int): Long = (0 until e).foldLeft(1L)((acc, _) => acc * k)

  /** 62-bit portable band key over `slots` (each < P): two polynomial
    * combines mod P packed as c1*P + c2. Sum-of-products bound: each
    * term < P * k^(rows-1); rows ≤ 4 keeps everything < 2^53 — enforced
    * by the caller (16 hashes / 4 bands is the shipped shape).
    */
  private def portableBandKey(slots: Seq[Column]): Column = {
    def poly(k: Long): Column =
      slots.zipWithIndex.map { case (c, j) =>
        c * lit(intPow(k, slots.size - 1 - j))
      }.reduce(_ + _) % PortableP
    poly(31L) * lit(PortableP) + poly(97L)
  }

  /** MinHash+LSH candidate pairs, exact-Jaccard verified. `numHashes`
    * signatures in `bands` bands of `numHashes/bands` rows; docs sharing
    * any band bucket become candidates; candidates are then verified with
    * the true shingle Jaccard so the output has no false positives.
    *
    * `maxBucketSize` caps hot band buckets (low-entropy corpora produce
    * buckets holding thousands of docs whose C(n,2) pair expansion
    * dominates the job; a bucket that hot carries no near-dup signal —
    * dropping it is the standard LSH df-cap). None = exact banding
    * (default, used by the oracle-checked query).
    *
    * The shingles are pinned: the signatures and the verification's
    * shingle sets both read them.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBucketSize: Option[Int] = None,
                      portable: Boolean = false): DataFrame =
    minhashLshPairsOver(shingles(df, idCol, textCol, k).cache(), numHashes,
      bands, threshold, maxBucketSize, portable = portable)

  /** Just the banded CANDIDATE pairs (doc_a, doc_b) of the MinHash+LSH
    * path — the pair set the bucket structure produces BEFORE exact-
    * Jaccard verification. Public so the x58 drift gate can compare the
    * production-hash and portable bucket structures by candidate mass
    * (bucket skew inflates THIS count long before it changes verified
    * recall). With a `maxBucketSize` cap the band index is pinned: the
    * hot-bucket aggregate and the anti join both read it.
    */
  def minhashCandidatesOver(sh: DataFrame, numHashes: Int = 16, bands: Int = 4,
                            maxBucketSize: Option[Int] = None,
                            probePred: Option[Column] = None,
                            portable: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    val sig = minhashSignatures(sh, numHashes, portable = portable)
    // (band_id, band_hash) inverted index: ONE equi-join on the composite
    // bucket key replaces per-band self-joins + union — one shuffle, and
    // the band id rides in the join key so buckets from different bands
    // never collide. The frame is tiny (docs × bands); unpinned, the
    // signature aggregation under it would run once per reader.
    if (portable) require(rows <= 4,
      "portable band keys support at most 4 rows per band (62-bit packing bound)")
    val bandedAll = sig.select(col("id"), posexplode(array((0 until bands).map { b =>
      val slots = (b * rows until (b + 1) * rows).map(i => col(s"mh_$i"))
      // portable band key: integer polynomial over the slot values — the
      // oracle rebuilds it with the same literal multipliers; murmur of
      // the slots otherwise (production default)
      if (portable) portableBandKey(slots) else hash(slots: _*)
    }: _*)).as(Seq("band_id", "band_hash")))
    val banded = maxBucketSize match {
      case None => bandedAll
      case Some(cap) =>
        val pinned = bandedAll.cache()
        val hot = pinned.groupBy("band_id", "band_hash")
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") > cap)
          .select("band_id", "band_hash")
        pinned.join(hot, Seq("band_id", "band_hash"), "left_anti")
    }
    // probePred (gate use): restricting the a-side to a sampled id set
    // cannot change which SAMPLED pairs band together — banding is a
    // per-doc function — so gate recall over the sample is exact
    val probeSide = probePred.map(banded.filter).getOrElse(banded)
    probeSide.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** MinHash+LSH over a prebuilt (id, shingle) inverted index — lets a
    * caller (e.g. the x33 recall gate) share ONE shingle frame between
    * the exact-Jaccard baseline and the banded scale path. The
    * signatures and the verification sets both read `sh`, so a caller
    * pins it (as [[minhashLshPairs]] does).
    */
  def minhashLshPairsOver(sh: DataFrame, numHashes: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5,
                          maxBucketSize: Option[Int] = None,
                          probePred: Option[Column] = None,
                          portable: Boolean = false): DataFrame = {
    val candidates = minhashCandidatesOver(sh, numHashes, bands,
      maxBucketSize, probePred, portable)
    // Verify candidates with exact Jaccard — via per-doc shingle SETS and
    // array_intersect, not a re-join on the shingle inverted index: each
    // candidate row carries two bounded arrays (doc-length-bounded), so
    // verification is map-side and O(candidates), independent of how hot
    // individual shingles are.
    val sets = sh.groupBy("id").agg(collect_set("shingle").as("shset"))
    candidates
      .join(sets.select(col("id").as("doc_a"), col("shset").as("set_a")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("shset").as("set_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Connected components over a near-dup pair graph: every doc that
    * appears in `pairs` (doc_a, doc_b) is labeled with the MINIMUM doc
    * id of its component — the canonical "pick one keeper per dup
    * cluster" step that follows pair generation in a corpus dedup
    * pipeline. Output: doc_id, cluster_id.
    *
    * Alternating min-label propagation: labels start as self, each round
    * joins labels across edges and keeps the min, stopping at fixpoint.
    * A run whose round `maxIter` still changes a label throws an
    * IllegalStateException naming `maxIter` and how many ids changed in
    * that round — unconverged labels are never returned as clusters.
    * Rounds needed = component diameter — near-dup
    * clusters are shallow (dups of dups of one original), so a handful
    * of rounds closes them. The driver loop is CONTROL only (a
    * per-round emptiness check); labels and edges stay distributed —
    * this is the standard iterative-CC shape (GraphX Pregel, the
    * large-star/small-star map-reduce CC) specialized to min-label.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // cache the incoming pairs FIRST: the both-directions union references
    // them twice, and without this the (possibly expensive) pair
    // generation subtree would execute once per branch. Each round's
    // labels are pinned with an EAGER localCheckpoint, not cache():
    // unpersisting a cached parent CASCADES to dependent cached plans,
    // so a cache-based loop silently recomputes every earlier round —
    // checkpointing cuts the lineage instead, keeping round i's cost
    // independent of i (the standard iterative-algorithm discipline).
    // Both pins are scoped to this call: `p` is released as soon as the
    // eager edge checkpoint holds its rows, and checkpoints are no
    // cache entries, so nothing stays in the session's cache.
    require(maxIter >= 1, s"dupClusters: maxIter must be >= 1, got $maxIter")
    val p = pairs.select("doc_a", "doc_b").cache()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint(true)
    p.unpersist()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor propagation + pointer doubling (label ← label-of-label):
      // doubling contracts chains geometrically, so rounds grow with
      // log(diameter) rather than diameter — a 1000-link dup chain
      // closes in ~10 rounds instead of 1000
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      val doubled = labels.as("l1")
        .join(labels.select(col("id").as("label"), col("label").as("label2")), "label")
        .select(col("id"), col("label2").as("label"))
      // convergence detection rides IN the round's aggregate: the union is
      // tagged by source, so the same groupBy that computes the new min
      // label also recovers the previous one (`own` rows carry it; every
      // id has exactly one). The old scheme ran a separate next⋈labels
      // compare job after each round — doubling per-round cost.
      val next = labels.select(col("id"), col("label"), lit(true).as("own"))
        .unionByName(prop.withColumn("own", lit(false)))
        .unionByName(doubled.withColumn("own", lit(false)))
        .groupBy("id")
        .agg(min("label").as("label"),
          min(when(col("own"), col("label"))).as("old"))
        .localCheckpoint(true)
      // scans only the just-materialized checkpoint blocks — no join job
      val changed = next.filter(col("label") =!= col("old"))
      converged = changed.isEmpty
      labels = next.select("id", "label")
      i += 1
      // the count runs only here, so a converged run starts no extra job
      if (!converged && i == maxIter) throw new IllegalStateException(
        s"dupClusters: no fixpoint after maxIter = $maxIter rounds; " +
          s"${changed.count()} ids changed their label in the last round")
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** SimHash per doc: sign of the token-weighted bit sums of a 64-bit
    * token hash. Output: id, simhash.
    *
    * Default: 64 bits of xxhash64(token). `portable`: the 60-bit
    * `portableBase` of the token — md5 is engine-independent, so the
    * DuckDB oracle recomputes the identical signatures nibble-by-nibble
    * (xxhash64 can't be cross-checked).
    */
  def simhashBits(portable: Boolean): Int = if (portable) 60 else 64

  def simhash(df: DataFrame, idCol: String, textCol: String,
              portable: Boolean = false): DataFrame =
    simhashFromToks(tokenized(df, idCol, textCol), portable)

  /** Per-family bit-sum aggregate columns (prefix disambiguates when two
    * families share one aggregation) and the sign-bit packing over them.
    */
  private def bitSumsOf(th: Column, nbits: Int, prefix: String): Seq[Column] =
    (0 until nbits).map { b =>
      sum(when(shiftright(th, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"$prefix$b")
    }

  private def packBits(nbits: Int, prefix: String): Column =
    (0 until nbits).map { b =>
      when(col(s"$prefix$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** [[simhash]] over an ALREADY-TOKENIZED `(id, toks)` frame — the
    * shared-tokenize seam (see [[shinglesFromToks]]).
    */
  def simhashFromToks(toks: DataFrame, portable: Boolean = false): DataFrame = {
    // For each bit position, sum +1/-1 over token occurrences, then pack
    // sign bits. ONE partial-aggregated groupBy straight off the explode:
    // a (id, token-hash) pre-dedup shuffle was measured SLOWER here — the
    // extra exchange outweighs evaluating the bit tests per occurrence.
    val nbits = simhashBits(portable)
    val h = if (portable) portableBase(col("tok")) else xxhash64(col("tok"))
    val exploded = toks.select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"), h.as("th"))
    val bitSums = bitSumsOf(col("th"), nbits, "b_")
    exploded.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), packBits(nbits, "b_").as("simhash"))
  }

  /** BOTH simhash families' signatures from one tokenized frame in ONE
    * explode + ONE partial-aggregated groupBy: (id, sim_port,
    * sim_prod). The x58 drift gate compares the portable (md5-base) and
    * production (xxhash64) bucket structures over the same corpus —
    * computed separately that is two full tokenize+explode+aggregate
    * passes whose only difference is the hash inside the bit test
    * (round 18, guide §1.2: don't compute the same pass twice). Each
    * signature is bit-identical to [[simhashFromToks]]'s respective
    * output: same explode, same bit sums, same packing — only fused.
    */
  private[graft] def simhashBothFromToks(toks: DataFrame): DataFrame = {
    val exploded = toks.select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"), portableBase(col("tok")).as("hp"),
        xxhash64(col("tok")).as("hx"))
    val sums = bitSumsOf(col("hp"), simhashBits(true), "p_") ++
      bitSumsOf(col("hx"), simhashBits(false), "x_")
    exploded.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        packBits(simhashBits(true), "p_").as("sim_port"),
        packBits(simhashBits(false), "x_").as("sim_prod"))
  }

  /** The (id, simhash, chunk_id, chunk_val) chunk-banded inverted index
    * over a prebuilt `(id, simhash)` signature frame, hot-cap applied —
    * what the pair and candidate joins read. Taking signatures (round
    * 18) lets the x58 drift gate band both hash families from one
    * shared signature aggregate. With a `maxBucketSize` cap the chunk
    * index is pinned, as in the MinHash banding.
    */
  private def simhashBandedSig(sig: DataFrame, maxBucketSize: Option[Int],
                               portable: Boolean): DataFrame = {
    // (chunk_id, chunk_value) inverted index → single equi-join, as in
    // the MinHash banding; optional hot-bucket cap for low-entropy data.
    // The 64-column bit-sum signature aggregate is the expensive parent
    // the pin saves re-running.
    // Chunk width follows the signature width (4 × 16 bits, or 4 × 15 in
    // portable mode) — the any-pair-within-Hamming-3-shares-a-chunk
    // guarantee is the 4-way pigeonhole either way.
    val chunkBits = simhashBits(portable) / 4
    val chunkMask = (1L << chunkBits) - 1
    val bandedAll = sig.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(chunkMask))): _*))
        .as(Seq("chunk_id", "chunk_val")))
    maxBucketSize match {
      case None => bandedAll
      case Some(cap) =>
        val pinned = bandedAll.cache()
        val hot = pinned.groupBy("chunk_id", "chunk_val")
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") > cap)
          .select("chunk_id", "chunk_val")
        pinned.join(hot, Seq("chunk_id", "chunk_val"), "left_anti")
    }
  }

  /** SimHash near-dup pairs within `maxHamming`, candidate-bounded by
    * 16-bit chunk banding (any pair with Hamming ≤ 3 shares a chunk;
    * larger maxHamming keeps the guarantee weaker but the work bounded).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 6,
                   maxBucketSize: Option[Int] = None,
                   probePred: Option[Column] = None,
                   portable: Boolean = false): DataFrame =
    simhashPairsFromToks(tokenized(df, idCol, textCol), maxHamming,
      maxBucketSize, probePred, portable)

  /** [[simhashPairs]] over an ALREADY-TOKENIZED `(id, toks)` frame —
    * the shared-tokenize seam (the x34 gate tokenizes the corpus once
    * for its exact-Jaccard truth side and the simhash side).
    */
  def simhashPairsFromToks(toks: DataFrame, maxHamming: Int = 6,
                           maxBucketSize: Option[Int] = None,
                           probePred: Option[Column] = None,
                           portable: Boolean = false): DataFrame =
    pairsOfBanded(simhashBandedSig(simhashFromToks(toks, portable),
      maxBucketSize, portable), maxHamming, probePred)

  private def pairsOfBanded(banded: DataFrame, maxHamming: Int,
                            probePred: Option[Column]): DataFrame = {
    // same probe-side sampling contract as minhashLshPairsOver
    val probeSide = probePred.map(banded.filter).getOrElse(banded)
    probeSide.as("a").join(banded.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_val") === col("b.chunk_val") && col("a.id") < col("b.id"))
      // hamming filter BEFORE the dedup shuffle: bit_count is a map-side
      // expression, so only surviving pairs pay the distinct exchange
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Chunk-banded CANDIDATE pairs of the SimHash path over a prebuilt
    * `(id, simhash)` signature frame, before the Hamming filter — the
    * simhash analogue of [[minhashCandidatesOver]] for the x58
    * production-vs-portable bucket-structure drift gate.
    */
  def simhashCandidatesFromSig(sig: DataFrame,
                               maxBucketSize: Option[Int] = None,
                               portable: Boolean = false): DataFrame =
    candidatesOfBanded(simhashBandedSig(sig, maxBucketSize, portable))

  private def candidatesOfBanded(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_val") === col("b.chunk_val") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
}
