package pipebench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. One process and one submitting thread run the
  * workload's steps one after another (a closed loop with one client):
  *
  *  1. set-up: session start, then one warm-up pass over the inputs that
  *     also writes every catalog output for the oracle check;
  *  2. the timed window: whole passes back to back until `--seconds` have
  *     passed (at least one), caches cleared between steps and sinks
  *     emptied between passes;
  *  3. the in-JVM checks: the repo's fixture invariants on the generated
  *     inputs, and the output checks of the last pass (incremental sinks).
  *
  * With `--trace 1` the timed passes alternate traced and untraced; traced
  * passes run each step in three phases under their own job groups. The raw
  * record goes to `--record`; `run.py` turns it into metrics.
  */
object Main {
  final case class PhaseResult(phase: String, layer: String, seconds: Double,
                               group: String)
  final case class StepResult(pass: Int, unit: Int, step: String, ok: Boolean,
                              error: String, seconds: Double, inputRows: Long,
                              phases: Seq[PhaseResult], sinkBytes: Long,
                              sinkFiles: Long, gcPauseMs: Long)
  final case class PassResult(pass: Int, traced: Boolean, steps: Seq[StepResult],
                              sinkFilesLive: Long, cachedPeak: Long,
                              heapAfterGcPeak: Long, gcPauseMs: Long)

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val bootMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val input = opts("input")
    val work = new File(opts("work"))
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val runId = opts("run-id")
    val rows = opts.getOrElse("rows", "").split(",").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "scratch").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gc = new GcMonitor
    val scratch = new ScratchSampler(spark.sparkContext.getConf, 100)
    val listener = new LayerListener
    val spans = new Spans(entryNs)

    val workload: Workload = workloadName match {
      case "etl_reference" => new CatalogWorkload(spark, input,
        new File(work, "out").getPath, Workloads.reference, rows)
      case "curation_dedup" => new CatalogWorkload(spark, input,
        new File(work, "out").getPath, Workloads.curation, rows)
      case "etl_incremental" => new IncrementalWorkload(spark, input,
        new File(work, "sinks"), opts("days").toInt, rows)
      case other => sys.error(s"unknown workload $other")
    }

    val workloadSpan = spans.open()
    val runSpan = spans.open()
    def runStep(pass: Int, unit: Int, s: Step, traced: Boolean,
                parent: Int): StepResult = {
      val sc = spark.sparkContext
      val stepSpan = spans.open()
      val before = workload.sinkRoot.map(Dirs.snapshot).getOrElse(Map.empty)
      val gc0 = gc.pauseMs.get
      val phases = Seq.newBuilder[PhaseResult]
      var ok = true
      var error = ""
      val t0 = System.nanoTime()
      def phase[A](name: String, layer: String)(body: => A): A = {
        val group = s"$runId/$pass/$unit/${s.name}/$name"
        if (traced) sc.setJobGroup(group, s.name, interruptOnCancel = false)
        val id = spans.open()
        val p0 = System.nanoTime()
        try body
        finally {
          val p1 = System.nanoTime()
          spans.close(id, stepSpan, "phase", name, layer, p0, p1)
          phases += PhaseResult(name, layer, (p1 - p0) / 1e9, group)
        }
      }
      try {
        val df = phase("build", s.buildLayer)(s.build())
        if (traced) phase("plan", s.buildLayer)(df.queryExecution.executedPlan)
        phase("exec", s.execLayer)(s.exec(df))
      } catch {
        case e: Throwable =>
          ok = false
          error = Option(e.getMessage).getOrElse(e.toString).linesIterator
            .nextOption().getOrElse("").take(300)
          System.err.println(s"[pipebench] ${s.name} FAILED: $error")
      }
      val t1 = System.nanoTime()
      if (traced) sc.clearJobGroup()
      spans.close(stepSpan, parent, "step", s.name,
        if (s.buildLayer == s.execLayer) s.buildLayer else s"${s.buildLayer}+${s.execLayer}",
        t0, t1)
      // cache hygiene outside the timed step: no warm blocks pass from
      // one step (or pass) to the next
      spark.catalog.clearCache()
      val after = workload.sinkRoot.map(Dirs.snapshot).getOrElse(Map.empty)
      val written = after.filter { case (p, v) => !before.get(p).contains(v) }
      scratch.sample()
      StepResult(pass, unit, s.name, ok, error, (t1 - t0) / 1e9, s.inputRows,
        phases.result(), written.values.map(_._1).sum, written.size,
        gc.pauseMs.get - gc0)
    }

    def runPass(pass: Int, units: Seq[Seq[Step]], traced: Boolean): PassResult = {
      workload.reset()
      if (traced) spark.sparkContext.addSparkListener(listener)
      listener.resetCachedPeak()
      gc.peakAfterGc.set(0L)
      val gc0 = gc.pauseMs.get
      val passSpan = spans.open()
      val p0 = System.nanoTime()
      val steps = units.zipWithIndex.flatMap { case (unit, u) =>
        unit.map(s => runStep(pass, u, s, traced, passSpan))
      }
      spans.close(passSpan, runSpan, "pass", s"pass$pass", "", p0, System.nanoTime())
      if (traced) {
        org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val live = workload.sinkRoot.map(Dirs.dataFiles(_).size.toLong).getOrElse(0L)
      PassResult(pass, traced, steps, live, listener.cachedPeak.get,
        gc.peakAfterGc.get, gc.pauseMs.get - gc0)
    }

    // set-up: session start (above) and the warm-up. The first pass is
    // about 2x slower than a warm one, so it belongs to set-up; it also
    // writes the catalog outputs for the oracle check. The next pass is
    // still about a tenth slower, which the median over the timed passes
    // absorbs.
    val warm = Seq(runPass(0, workload.units(check = true), traced = false))
    val setupS = bootMs / 1e3 + (System.nanoTime() - entryNs) / 1e9
    workload match {
      case c: CatalogWorkload => java.nio.file.Files.writeString(
        new File(work, "out/oracle_sql.json").toPath,
        Json.obj(c.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))
      case _ =>
    }

    // the timed window
    scratch.reset()
    gc.peakAfterGc.set(0L)
    val window0 = System.nanoTime()
    val passes = Seq.newBuilder[PassResult]
    var n = 0
    // a traced run needs one traced and one untraced pass
    val minPasses = if (trace) 2 else 1
    while (n < minPasses || (System.nanoTime() - window0) / 1e9 < seconds) {
      n += 1
      System.gc()
      passes += runPass(n, workload.units(check = false), traced = trace && n % 2 == 1)
    }
    val windowS = (System.nanoTime() - window0) / 1e9
    scratch.sample()
    val peakScratch = scratch.peakBytes
    val peakHeap = gc.peakAfterGc.get
    // the generated inputs must hold the oracle-parity invariants the
    // repo's seeded generator asserts on every corpus it writes
    val checks = graft.FixtureInvariants.violations(spark, input).map {
      case (name, n) => s"inputs/$name" -> Option.when(n > 0)(s"$n violating rows")
    } ++ workload.verify()
    val end = System.nanoTime()
    spans.close(runSpan, workloadSpan, "run", runId, "", entryNs, end)
    spans.close(workloadSpan, 0, "workload", workloadName, "", entryNs, end)

    val counters = if (trace) listener.snapshot() else Map.empty[String, Counters]
    val record = Json.obj(
      "workload" -> Json.str(workloadName),
      "run_id" -> Json.str(runId),
      "cores" -> Json.num(cores),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory >> 20),
      "jvm_boot_s" -> Json.num(bootMs / 1e3),
      "setup_s" -> Json.num(setupS),
      "window_s" -> Json.num(windowS),
      "input_bytes" -> Json.num(workload.inputBytes),
      "peak_scratch_bytes" -> Json.num(peakScratch),
      "peak_heap_after_gc_bytes" -> Json.num(peakHeap),
      "checks" -> Json.arr(checks.map { case (name, bad) =>
        Json.obj("step" -> Json.str(name), "ok" -> Json.bool(bad.isEmpty),
          "error" -> Json.str(bad.getOrElse("")))
      }),
      "warmup" -> Json.arr(warm.map(passJson(_, Map.empty))),
      "passes" -> Json.arr(passes.result().map(passJson(_, counters))),
      "spans" -> Json.arr(spans.all.map(sp => Json.obj(
        "id" -> Json.num(sp.id), "parent" -> Json.num(sp.parent),
        "kind" -> Json.str(sp.kind), "name" -> Json.str(sp.name),
        "layer" -> Json.str(sp.layer), "start_s" -> Json.num(sp.startNs / 1e9),
        "end_s" -> Json.num(sp.endNs / 1e9)))))
    java.nio.file.Files.writeString(new File(opts("record")).toPath, record)
    scratch.stop()
    gc.stop()
    spark.stop()
  }

  private def passJson(p: PassResult, counters: Map[String, Counters]): String =
    Json.obj(
      "pass" -> Json.num(p.pass),
      "traced" -> Json.bool(p.traced),
      "sink_files_live" -> Json.num(p.sinkFilesLive),
      "cached_peak_bytes" -> Json.num(p.cachedPeak),
      "heap_after_gc_bytes" -> Json.num(p.heapAfterGcPeak),
      "gc_pause_s" -> Json.num(p.gcPauseMs / 1e3),
      "steps" -> Json.arr(p.steps.map { s =>
        Json.obj(
          "unit" -> Json.num(s.unit), "step" -> Json.str(s.step),
          "ok" -> Json.bool(s.ok), "error" -> Json.str(s.error),
          "seconds" -> Json.num(s.seconds), "input_rows" -> Json.num(s.inputRows),
          "sink_bytes" -> Json.num(s.sinkBytes), "sink_files" -> Json.num(s.sinkFiles),
          "gc_pause_s" -> Json.num(s.gcPauseMs / 1e3),
          "phases" -> Json.arr(s.phases.map { ph =>
            val c = counters.getOrElse(ph.group, new Counters)
            Json.obj(
              "phase" -> Json.str(ph.phase), "layer" -> Json.str(ph.layer),
              "seconds" -> Json.num(ph.seconds),
              "jobs" -> Json.num(c.jobs), "stages" -> Json.num(c.stages),
              "tasks" -> Json.num(c.tasks), "task_s" -> Json.num(c.taskNs / 1e9),
              "cpu_s" -> Json.num(c.cpuNs / 1e9), "gc_s" -> Json.num(c.gcMs / 1e3),
              "sched_delay_s" -> Json.num(c.schedDelayMs / 1e3),
              "shuffle_write_bytes" -> Json.num(c.shuffleWriteBytes),
              "shuffle_read_bytes" -> Json.num(c.shuffleReadBytes),
              "spill_bytes" -> Json.num(c.spillBytes),
              "result_bytes" -> Json.num(c.resultBytes),
              "scan_bytes" -> Json.num(c.scanBytes),
              "output_bytes" -> Json.num(c.outputBytes),
              "output_rows" -> Json.num(c.outputRows),
              "peak_exec_mem_bytes" -> Json.num(c.peakExecMem),
              "exchanges" -> Json.num(c.exchanges))
          }))
      }))
}

/** Just enough JSON writing for the record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
