package graft.sources

import graft.SparkSpec
import graft.ops.{Cleaning, Dedup, Shred}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sources, sinks, surrogate keys, and the deterministic fixture
  * generator (SURVEY.md S1/S2/S5/S7, K1/K2/K3/K5, J4).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_test_").toString

  test("rawCsv loads header CSV as all-TEXT, typed later in the transform") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/raw.csv"),
      "id,noted_date,temp,out_in\n1,05-03-2024 10:20:30,\"21,5\",In\n2,05-03-2024 10:21,,out\n")
    val raw = Sources.rawCsv(spark, s"$dir/raw.csv",
      Seq("id", "noted_date", "temp", "out_in"))
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))
    val typed = raw.select(
      Cleaning.parseTsMultiFormat(col("noted_date")).as("ts"),
      Cleaning.numericText(col("temp")).as("t"),
      Cleaning.normEquals(col("out_in"), "in").as("is_in")).collect()
    assert(typed(0).getDouble(1) == 21.5 && typed(0).getBoolean(2))
    assert(typed(1).isNullAt(1) && !typed(1).getBoolean(2))
  }

  test("fetchCsv stages a URL body then bulk-loads it all-TEXT (S1, file:// stands in for https://)") {
    val dir = tmp()
    val remote = java.nio.file.Paths.get(s"$dir/served.csv")
    Files.writeString(remote,
      "id,noted_date,temp,out_in\n1,05-03-2024 10:20:30,29.1,Out\n2,05-03-2024 10:21,21.5,In\n")
    val staging = java.nio.file.Paths.get(s"$dir/staging")
    // the sandbox is offline, so the URL scheme under test is file:// —
    // the fetch path (URI → stream → staged file → splittable scan) is
    // identical for https://, only the JVM URLConnection differs
    val raw = Sources.fetchCsv(spark, remote.toUri.toString,
      Seq("id", "noted_date", "temp", "out_in"), staging)
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))
    assert(raw.count() == 2)
    assert(Files.exists(staging.resolve("fetched.csv")),
      "fetch must stage to disk so the load is a restartable file scan")
    // re-fetch overwrites the staged copy idempotently
    assert(Sources.fetchCsv(spark, remote.toUri.toString,
      Seq("id", "noted_date", "temp", "out_in"), staging).count() == 2)
  }

  test("JSON-lines document source with declared nested schema + null-safe struct unwrap") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/events.jsonl"),
      """{"event_id":"e1","timestamp":"2024-03-01T10:00:00Z","event_type":"error","details":{"page":"/a","user_id":"u1","extra":{"error_code":500}}}
        |{"event_id":"e2","timestamp":"2024-03-01T11:00:00Z","event_type":"click","details":{"page":"/b","user_id":"u2","extra":null}}
        |""".stripMargin)
    val docs = Sources.documents(spark, s"$dir/events.jsonl", Sources.eventLogSchema)
    val out = docs.select(
      col("event_id"),
      col("details.page").as("page"),
      col("details.extra.error_code").as("ec")).orderBy("event_id").collect()
    assert(out(0).getInt(2) == 500)
    assert(out(1).isNullAt(2)) // null-safe nested traversal (P9)
  }

  test("truncateReload is idempotent; overwriteWindow touches only window partitions") {
    val dir = tmp() + "/t"
    val v1 = Seq(("2024-03-01", 1.0), ("2024-03-02", 2.0)).toDF("day", "v")
    Sinks.partitionedReload(v1, dir, "day")
    // dynamic overwrite of day=2024-03-02 only
    val patch = Seq(("2024-03-02", 99.0)).toDF("day", "v")
    Sinks.overwriteWindow(patch, dir, "day")
    val out = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Any]("day").toString, r.getAs[Double]("v"))).toSet
    assert(out == Set(("2024-03-01", 1.0), ("2024-03-02", 99.0)))
  }

  test("appendIfAbsent implements ON CONFLICT DO NOTHING") {
    val dir = tmp() + "/a"
    Sinks.appendIfAbsent(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, Seq("k"))
    Sinks.appendIfAbsent(Seq((2, "DUP"), (3, "c")).toDF("k", "v"), dir, Seq("k"))
    val out = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("appendIfAbsent excludes a key the target holds twice, multiplying no row") {
    val dir = tmp() + "/dupkey"
    Sinks.truncateReload(Seq((1, "a"), (1, "a2"), (2, "b")).toDF("k", "v"), dir)
    Sinks.appendIfAbsent(
      Seq((1, "NEW"), (1, "NEW2"), (3, "c")).toDF("k", "v"), dir, Seq("k"))
    val out = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
    assert(out == Seq((1, "a"), (1, "a2"), (2, "b"), (3, "c")))
  }

  test("surrogate ids are contiguous and deterministic; child table references parent") {
    val parents = Seq(("Rex", Seq("beef", "chicken")), ("Mia", Seq("tuna")))
      .toDF("name", "foods")
    val withId = Shred.withSurrogateId(parents, Seq(col("name")), "pet_id")
    assert(withId.select("pet_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    val child = Shred.childTable(withId, "pet_id", col("foods"), "food")
    assert(child.count() == 3)
    val mia = withId.filter($"name" === "Mia").select("pet_id").collect()(0).getLong(0)
    assert(child.filter($"food" === "tuna").collect()(0).getLong(0) == mia)
  }

  test("fixtures reproduce the reference golden cardinalities deterministically") {
    val s = Fixtures.userSessions(spark)
    assert(s.count() == 2050)
    assert(Dedup.keepFirst(s, Seq("session_id"), Seq(col("start_time").asc))
      .count() == 2000)
    val e = Fixtures.eventLogs(spark)
    assert(e.count() == 5100)
    assert(e.dropDuplicates("event_id").count() == 5000)
    assert(Fixtures.supportTickets(spark).count() == 600)
    assert(Fixtures.userRecommendations(spark).count() == 200)
    val m = Fixtures.moderationQueue(spark)
    assert(m.count() == 800)
    // CHECK (rating BETWEEN 1 AND 5) holds
    assert(m.filter(!col("rating").between(1, 5)).count() == 0)
    // determinism: regeneration is bit-identical
    assert(Fixtures.userSessions(spark).exceptAll(s).count() == 0)
    // anomaly rows exist for the clean-layer filters (P5/P6)
    assert(s.filter(col("start_time") >= col("end_time")).count() > 0)
    assert(Fixtures.supportTickets(spark)
      .filter(col("created_at") > col("updated_at")).count() > 0)
  }

  test("a day filter on the partitioned layout prunes partitions at the scan") {
    // THE scan property at 100 TB: a cutoff predicate on the partition
    // column must reach the file index as a partition filter so
    // untouched history is never listed or read — not just a row filter
    // applied after reading everything.
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    val daily = graft.Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("value"))
    Sinks.partitionedReload(daily, s"$dir/t", "day")
    val nDays = daily.select("day").distinct().count()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val filtered = spark.read.parquet(s"$dir/t")
        .filter(col("day") === daily.agg(max("day")).collect()(0).getDate(0))
      val scan = filtered.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan"))
      assert(scan.partitionFilters.nonEmpty, s"day filter not a partition filter:\n$scan")
      // the pruned scan must select exactly ONE of the day directories
      assert(scan.selectedPartitions.partitionCount == 1,
        s"expected 1 of $nDays partitions, scanned ${scan.selectedPartitions.partitionCount}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
