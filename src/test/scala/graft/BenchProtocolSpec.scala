package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH record's self-describing protocol contract (round-15
  * verdict item 7): every record built through Bench's line assembly
  * must carry the cross-round context fields — `boot_id` + `steal_pct`
  * (round 14: a full sweep read 1.6-10× slow purely from hypervisor
  * steal no record field could show) and `peak_scratch_mb_max` + the
  * per-query `peak_scratch_mb` map (round 14: three queries died
  * disk-full with no record of who ate the disk). Dropping a field is
  * a spec failure here, not an archaeology problem two rounds later.
  */
class BenchProtocolSpec extends AnyFunSuite {

  test("protocol fragment carries boot, steal, headline scratch, and heap") {
    val p = Bench.protocolJson(reps = 3, bootId = "b-1", loadAvg = 0.5,
      otherJvms = 0L, stealPct = BigDecimal("1.25"), scratchMaxMb = 197L,
      heapMb = 65536L)
    for (key <- Seq("\"protocol\":\"noop-sink/min-of-3\"",
        "\"boot_id\":\"b-1\"", "\"load_avg\":0.5", "\"other_jvms\":0",
        "\"steal_pct\":1.25", "\"peak_scratch_mb_max\":197",
        "\"heap_mb\":65536"))
      assert(p.contains(key), s"protocol fragment lost $key: $p")
    // heap_mb defaults to the RUNNING JVM's real max heap (round 17:
    // an intended -Xmx64g was silently dropped by the sbt launcher and
    // nothing in the record could show it)
    val self = Bench.protocolJson(1, "b", 0.0, 0L, BigDecimal(-1), 0L)
    assert(self.contains(s""""heap_mb":${Runtime.getRuntime.maxMemory >> 20}"""))
  }

  test("the printed stdout line stays inside the driver's ~2000-char " +
      "capture window at the CURRENT catalog size") {
    // round-16's line outgrew the window, failed the driver's JSON parse
    // and silently cost round 17 its official PERF comparison (r17
    // verdict #9). Pin the budget logic against the real catalog: every
    // query at a worst-case 5-digit seconds value, real (longest) names,
    // plus a worst-case protocol fragment — the printed line must leave
    // room for sbt's trailing "[success] Total time..." (~80 chars).
    val names = SparkEntry.queries.keys.toSeq
    val results = names.map(n => n -> 86399.999)
    val protocol = Bench.protocolJson(reps = 3,
      bootId = "xxxxxxxx-xxxx-xxxx-xxxx-xxxxxxxxxxxx",
      loadAvg = 123.456789012345, otherJvms = 99L,
      stealPct = BigDecimal("99.99"), scratchMaxMb = 9999999L,
      heapMb = 1048576L)
    val line = Bench.printedLine(12345678.901, protocol, results,
      "/root/testdata/sf0.1")
    assert(line.length <= 1900,
      s"printed bench line (${line.length} chars) risks the driver's " +
        "capture window")
    assert(line.startsWith("{") && line.endsWith("}"))
    for (key <- Seq("\"other_sec\":", s""""n_queries":${names.size}"""))
      assert(line.contains(key), s"printed line lost $key")
  }

  test("full record line carries the per-query time AND scratch maps") {
    val line = Bench.fullLine(12.5, Bench.protocolJson(1, "b", 0.0, 0L,
      BigDecimal(-1), 0L), """{"q1":12.5}""", """{"q1":42}""", "/d")
    for (key <- Seq("\"metric\":\"total\"", "\"value\":12.5",
        "\"queries\":{\"q1\":12.5}", "\"peak_scratch_mb\":{\"q1\":42}",
        "\"peak_scratch_mb_max\":0", "\"sf\":\"/d\""))
      assert(line.contains(key), s"record line lost $key: $line")
    // and it parses as one JSON object (the driver's contract)
    assert(line.startsWith("{") && line.endsWith("}"))
  }

  test("SPARK_GRAFT_CPUS: default 32, positive integers pass, anything " +
      "else fails naming the variable and the value") {
    assert(Bench.localCores(Map.empty) == 32)
    assert(Bench.localCores(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    for (bad <- Seq("", "abc", "4x", "0", "-2", "2.5")) {
      val e = intercept[IllegalArgumentException](
        Bench.localCores(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("Bench, Verify and Plans share one local session conf, and its " +
      "integer settings fail naming the variable and the value") {
    assert(Bench.localConf(Map.empty) == Seq(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    val conf = Bench.localConf(Map("SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_INITIAL_PARTS" -> "256")).toMap
    assert(conf("spark.master") == "local[4]")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "256")
    assert(Bench.timedReps(Map.empty) == 3)
    assert(Bench.timedReps(Map("SPARK_GRAFT_REPS" -> "1")) == 1)
    for (bad <- Seq("", "abc", "0", "-1", "2.5")) {
      val parts = intercept[IllegalArgumentException](
        Bench.localConf(Map("SPARK_GRAFT_INITIAL_PARTS" -> bad)))
      assert(parts.getMessage.contains("SPARK_GRAFT_INITIAL_PARTS") &&
        parts.getMessage.contains(s"'$bad'"), parts.getMessage)
      val reps = intercept[IllegalArgumentException](
        Bench.timedReps(Map("SPARK_GRAFT_REPS" -> bad)))
      assert(reps.getMessage.contains("SPARK_GRAFT_REPS") &&
        reps.getMessage.contains(s"'$bad'"), reps.getMessage)
    }
  }
}
