package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Before timing, each query runs once (untimed) against sf0.001: this
  * compiles the whole-stage-codegen classes and loads parquet footers so
  * the timed pass measures data processing, not JIT/codegen compilation —
  * standard JVM benchmark hygiene, and the behavior a long-running
  * cluster job actually sees. Branch coverage note: auto-branched
  * queries warm the branch sf0.001 SELECTS — x86 warms plain; its
  * impact spelling is warmed by the x87 forced-impact entry (round-13
  * advice), so scale sweeps that include x87 pay its codegen before
  * the timed reps.
  */
object Bench {
  private val warmDir = "/root/testdata/sf0.001"

  /** A positive-integer environment setting: `default` when unset. A
    * value that is not a positive integer fails here, naming the
    * variable and the value, instead of as a bare NumberFormatException
    * or a Spark conf error.
    */
  private def positiveInt(env: Map[String, String], name: String,
                          default: Int): Int =
    env.get(name).fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }

  /** The `local[N]` core count of [[localSession]]: SPARK_GRAFT_CPUS
    * when set, else 32 (the bench protocol's `local[32]`).
    */
  private[graft] def localCores(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", 32)

  /** Timed reps per query: SPARK_GRAFT_REPS when set, else 3. */
  private[graft] def timedReps(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_REPS", 3)

  /** The conf of the one local session Bench, Verify and Plans run on,
    * so the verified and audited plans are the benched plans.
    *
    * Shuffle sizing: 32 initial shuffle partitions. Round 12 shipped
    * 256 on the claim that AQE coalescing keeps sf0.1 plans shaped — the
    * same-boot min-of-3 A/B (round 13, PLANS.md) refuted it (AQE does
    * not refund checkpoint materialization or per-stage overhead in
    * iterative/many-stage queries: x22 14.1s@256 vs 5.6s@32 — a 35%
    * suite regression), and the 1000x sort spill that originally
    * motivated 256 is gone (x81 174.9s@32 vs 180.1s@256), so the scale
    * sweeps run at 32 too. On a real cluster the equivalent decision is
    * per-job sizing (initialPartitionNum ~ a few x total cores for big
    * inputs), not one global constant. The oracle results are
    * knob-invariant by design (fixed-point integer sums, deterministic
    * tiebreaks) — KnobInvarianceSpec pins that claim at
    * initialPartitionNum 1 vs 512.
    */
  private[graft] def localConf(env: Map[String, String] = sys.env)
      : Seq[(String, String)] = {
    val cpus = localCores(env).toString
    Seq("spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  /** The session of [[localConf]]. `Smoke` keeps a default-config
    * session instead, because it replicates the driver's.
    */
  private[graft] def localSession(): SparkSession =
    localConf().foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()

  /** The record's self-describing protocol fragment — extracted so
    * BenchProtocolSpec can pin that EVERY future BENCH record carries
    * the context fields the cross-round comparisons depend on
    * (boot_id / steal_pct since r14, peak_scratch_mb_max since r15):
    * a record missing one reads as a code regression or a silent
    * disk-wall respectively, which is precisely how rounds 9 and 14
    * were burned. Removing a field now fails a spec, not a judge.
    */
  private[graft] def protocolJson(reps: Int, bootId: String, loadAvg: Double,
                                  otherJvms: Long, stealPct: BigDecimal,
                                  scratchMaxMb: Long,
                                  heapMb: Long = Runtime.getRuntime
                                    .maxMemory() >> 20): String =
    s""""protocol":"noop-sink/min-of-$reps","boot_id":"$bootId"""" +
      s""","load_avg":$loadAvg,"other_jvms":$otherJvms""" +
      s""","steal_pct":$stealPct,"peak_scratch_mb_max":$scratchMaxMb""" +
      // heap_mb: the JVM's actual max heap — round 17 caught scale runs
      // whose intended `-Xmx64g` was silently swallowed by the sbt
      // launcher (SBT_OPTS -Xmx suppresses the default -mem but is not
      // forwarded), running at the ~¼-RAM default instead; a record
      // that carries the real heap makes that failure mode visible in
      // the record, not in post-hoc ps archaeology
      s""","heap_mb":$heapMb"""

  /** The full-precision record line (the file the driver and the scale
    * sweeps read) — extracted for the same spec: it must carry the
    * per-query map AND the per-query scratch map.
    */
  private[graft] def fullLine(total: Double, protocol: String, qs: String,
                              scratchJson: String, sfDir: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec",$protocol,""" +
      s""""queries":$qs,"peak_scratch_mb":$scratchJson,"sf":"$sfDir"}"""

  /** Aggregate cpu ticks from /proc/stat as (total, steal); None off
    * Linux. Two reads bracketing the run give the whole-run steal share.
    * Only the first 8 fields (user..steal) are summed: the kernel folds
    * guest/guest_nice into user/nice already, so including them would
    * double-count the denominator on nested-VM hosts and deflate
    * steal_pct (round-14 advice) — take(8) matches top/vmstat.
    */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val fields = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((fields.take(8).sum, if (fields.length > 7) fields(7) else 0L))
    } catch { case _: Exception => None }

  /** The budget-truncated stdout line (the driver's capture window is
    * ~2000 chars — see main). Extracted so BenchProtocolSpec can pin
    * that the printed line stays inside the window at the CURRENT
    * catalog size (round-17 verdict #9: r16's line outgrew the window
    * and silently cost that round its official PERF comparison).
    */
  private[graft] def printedLine(total: Double, protocol: String,
                                 results: Seq[(String, Double)],
                                 sfDir: String): String = {
    val budget = 1700
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val bySlow = results.sortBy(-_._2)
    val head = new StringBuilder(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$protocol,"queries":{""")
    var included = 0
    var full = false
    bySlow.foreach { case (k, v) =>
      val entry = (if (included > 0) "," else "") + "\"" + k + "\":" + fmt(v)
      // stop at the FIRST entry that misses the budget, so the included
      // set is exactly the slowest prefix and the drop below is sound
      if (!full && head.length + entry.length < budget) {
        head ++= entry; included += 1
      } else full = true
    }
    val otherSec = bySlow.drop(included).map(_._2).filter(_ >= 0).sum
    head ++= s"""},"other_sec":${fmt(otherSec)},"n_queries":${results.size},"sf":"$sfDir"}"""
    head.toString
  }

  def main(args: Array[String]): Unit = {
    val ticks0 = cpuTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = localSession()
    spark.sparkContext.setLogLevel("WARN")
    // optional filter: `runMain graft.Bench x21 q06` times only those.
    // SPARK_GRAFT_EXCLUDE (comma-separated prefixes) drops queries from
    // an otherwise-full sweep — the scale-corpus protocol needs "all but
    // x07" (its twin-dense fixture makes TRUE pair output grow ~dup²,
    // see PLANS.md), which an include-list can't spell without
    // enumerating the catalog.
    val excluded = sys.env.get("SPARK_GRAFT_EXCLUDE")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      val included =
        if (args.isEmpty) all else all.filter(n => args.exists(n.startsWith))
      included.filterNot(n => excluded.exists(n.startsWith))
    }
    // materialize through the noop sink, NOT count(): count() lets
    // Catalyst prune unreferenced columns and eliminate cardinality-
    // preserving operators — a map-only projection (x38) or a unique-
    // keyed left-join rebuild (x60/x61/x79/x83/x84) collapses to a
    // parquet METADATA count and the operator under test never runs
    // (caught in round 9: x79 "ran" 5M docs in 0.34s; explain showed a
    // bare row-count scan). The noop sink evaluates every row and
    // column and discards them — the honest bench action.
    def materialize(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    names.foreach { n =>
      try materialize(n, warmDir)
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // min-of-N timed runs per query, caches cleared between reps.
    // Default 3: single-pass timings on this host throw multi-second
    // outliers (observed x22 14.6s vs 3.9s on consecutive identical
    // full runs) — the min is the honest per-query cost. Set
    // SPARK_GRAFT_REPS=1 for a quick dev pass.
    val reps = timedReps()
    // per-query peak scratch (MB): a 2s-interval daemon sampler brackets
    // each query's reps, plus an end-of-rep sample (short queries may
    // finish between ticks) — so spill walls are TRACKED per query
    // instead of discovered by disk-full at minute 50 (round-14 lesson:
    // x81/x82/BM25 died at ~75 GB with no record of who ate the disk).
    // Roots from the session's spark.local.dir (round-17 advice) — the
    // shared graft.Scratch walk, one helper with Retrieval's GC gate.
    def scratchBytes(): Long = Scratch.bytes(spark.sparkContext.getConf)
    val peakScratch = scala.collection.mutable.Map.empty[String, Long]
    val results = names.map { name =>
      @volatile var samplerStop = false
      val scratch0 = scratchBytes()
      // AtomicLong max-accumulate: the 2s sampler thread and the main
      // thread's end-of-rep samples race on this — a plain volatile
      // read-modify-write can lose an update and under-report the peak
      val peak = new java.util.concurrent.atomic.AtomicLong(scratch0)
      def samplePeak(): Unit =
        peak.accumulateAndGet(scratchBytes(), math.max(_, _))
      val sampler = new Thread(() => {
        // stop is checked BEFORE each walk, so interrupt-then-join never
        // leaves a stale daemon mid-walk charging the next query's window
        while (!samplerStop) {
          samplePeak()
          try Thread.sleep(2000)
          catch { case _: InterruptedException => () }
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      // per-rep start/done markers on stderr: a scale sweep that grinds
      // on one stage for an hour is otherwise unattributable (the
      // round-9 100× sweep burned 80+ min on an unidentified query —
      // jstack shows codegen frames, not query names)
      val times = (1 to reps).map { rep =>
        System.err.println(s"[bench] $name rep $rep/$reps ...")
        val t0 = System.nanoTime()
        val ok =
          try { materialize(name, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        samplePeak()
        System.err.println(f"[bench] $name rep $rep done ${(System.nanoTime() - t0) / 1e9}%.1fs")
        // failures are reported as -1, never as a fast "success"
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // cache hygiene, OUTSIDE the timed window: queries that persist
        // multi-consumer frames (the near-dup family x02–x04p, x22, x28,
        // x31, x33, x34 and x58; x17; langIdNgram)
        // would otherwise hand warm blocks to later queries in sorted run
        // order — and to every rep after the first (CacheManager matches
        // canonicalized plans) — cross-contaminating per-query times.
        // Limitation: clearCache() does NOT free localCheckpoint blocks
        // (x20's pinned centroids, q45's pinned daily frame) — those go
        // only when the frame is GC'd and ContextCleaner runs; the gc()
        // below nudges that so checkpoint blocks don't pile up across an
        // 80-query min-of-N sweep and perturb late queries
        spark.catalog.clearCache()
        dt
      }
      samplerStop = true
      sampler.interrupt()
      sampler.join(5000)
      // GROWTH over the query's window, not the absolute dir size:
      // residue from earlier queries (checkpoint blocks the cleaner
      // hasn't collected yet) would otherwise misattribute; clamped at
      // 0 because a mid-query cleaner pass can shrink the tree
      peakScratch(name) = math.max(0L, peak.get() - scratch0) >> 20
      System.gc()
      // min of the SUCCESSFUL reps: a transient single-rep failure must
      // not silently drop the query from the total (which would make a
      // flaky run look FASTER than a clean one); only an all-reps
      // failure reports -1 (and stderr already carries the exception)
      val succeeded = times.filter(_ >= 0)
      name -> (if (succeeded.isEmpty) -1.0 else succeeded.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // self-describing measurement protocol (round-9 lesson: per-query
    // deltas across protocol changes — count() vs noop sink, min-of-3 vs
    // REPS=1, boot-to-boot VM drift — read as code regressions unless the
    // record itself says how it was taken). boot_id pins the VM boot so a
    // cross-record compare can check "same boot" without PLANS.md
    // archaeology; best-effort read (absent off Linux).
    val bootId =
      try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id"))
        .trim
      catch { case _: Exception => "unknown" }
    // run context (round-13 advice: the 176.7-vs-159.9 driver/builder
    // spread at ONE boot was unattributable): 1-min load average and
    // the count of OTHER JVMs alive at the end of the run, so the next
    // cross-record attribution can rule host contention in or out
    // mechanically instead of by archaeology. End-of-run values — a
    // concurrent sweep that perturbed the timings is still running.
    // steal_pct covers the confounder those two CANNOT see (round-14
    // lesson: a full-catalog sweep ran shuffle-heavy queries 1.6-10×
    // slower at load_avg ≈ nothing-else-running — vmstat showed 3-8%
    // hypervisor steal, i.e. a NEIGHBOR VM's load): whole-run share of
    // stolen cpu ticks from /proc/stat, -1 where unreadable.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val otherJvms = ProcessHandle.allProcesses()
      .filter(p => p.info.command.map[Boolean](_.contains("java")).orElse(false))
      .count() - 1 // minus this JVM
    val stealPct = (for {
      (t0, s0) <- ticks0; (t1, s1) <- cpuTicks() if t1 > t0
    } yield BigDecimal(100.0 * (s1 - s0) / (t1 - t0))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)).getOrElse(BigDecimal(-1))
    // headline scratch number: the single largest per-query growth —
    // the value to compare against the node's free-disk budget
    val scratchMax = if (peakScratch.isEmpty) 0L else peakScratch.values.max
    val protocol =
      protocolJson(reps, bootId, loadAvg, otherJvms, stealPct, scratchMax)
    val scratchJson = names.map(n => s"\"$n\":${peakScratch.getOrElse(n, 0L)}")
      .mkString("{", ",", "}")
    val line = fullLine(total, protocol, qs, scratchJson, sfDir)
    // land the FULL-precision line in a file: sbt wraps stdout in [info]
    // noise that breaks the driver's JSON parse. FULL runs only — an
    // arg-filtered or exclusion-trimmed dev run must not overwrite the
    // file with a partial-suite total. SPARK_GRAFT_OUT redirects the
    // full-precision line to another path (the scale-corpus records:
    // BENCH_10x.json / BENCH_100x.json) without touching BENCH.json.
    val outPath = sys.env.get("SPARK_GRAFT_OUT")
      .orElse(if (args.isEmpty && excluded.isEmpty) Some("BENCH.json") else None)
    outPath.foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n"))
    // The driver captures only the LAST ~2000 chars of stdout (observed:
    // BENCH_r{7,8}.json carry a 2000-char "tail" whose parse failed
    // because the full 109-query line is ~4KB and its head was cut off).
    // So the printed line must fit the capture window together with
    // sbt's trailing "[success] Total time..." line (~80 chars). Print
    // the slowest queries first (they carry the grading signal) and stop
    // before a conservative budget; the remainder is summed so value ==
    // sum(queries) + other_sec always holds, and n_queries records the
    // true catalog size. BENCH.json above keeps every query at full
    // precision.
    println(printedLine(total, protocol, results, sfDir))
    spark.stop()
  }
}
