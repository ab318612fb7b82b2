package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Percentiles, top-k, top-1-per-group, dedup, explode — the aggregation
  * and window operator families (SURVEY.md A1-A8, W1-W2, T1-T2, J3-J4).
  */
class AggWindowSpec extends SparkSpec {
  import spark.implicits._

  test("percentile bounds are exact interpolated (percentile_cont semantics)") {
    // 0..100: p05 = 5.0, p95 = 95.0 exactly under linear interpolation
    val df = spark.range(0, 101).select($"id".cast("double").as("v"))
    val b = Percentiles.bounds(df, "v", 0.05, 0.95).collect()(0)
    assert(b.getDouble(0) == 5.0 && b.getDouble(1) == 95.0)
  }

  test("filterWithinPercentiles keeps only in-band rows and is a subset") {
    val df = spark.range(0, 1000).select(($"id" % 97).cast("double").as("v"))
    val out = Percentiles.filterWithinPercentiles(df, "v")
    assert(out.count() > 0 && out.count() <= df.count())
    assert(out.columns.toSeq == Seq("v")) // bounds dropped
  }

  test("topK returns k ranked rows matching the sorted prefix") {
    val df = Seq((1, 5.0), (2, 9.0), (3, 7.0), (4, 9.0)).toDF("k", "v")
    val top = TopK.topK(df, 2, col("v").desc, col("k").asc).collect()
    assert(top.map(_.getInt(0)).toSeq == Seq(2, 4))
    assert(top.map(_.getLong(2)).toSeq == Seq(1L, 2L))
  }

  test("latestBy returns the single max-key row") {
    val r = TopK.latestBy(graft.Tables.events(spark, sfDir), "event_id").collect()
    assert(r.length == 1)
  }

  test("top1 per group picks the mode with deterministic tiebreak") {
    val df = Seq(("u1", "a"), ("u1", "a"), ("u1", "b"),
      ("u2", "c"), ("u2", "d")).toDF("u", "dim")
    val out = Top1PerGroup.top1(df, Seq("u"), "dim").orderBy("u").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("u1", "a"), ("u2", "c"))) // u2 tie broken by dim asc
  }

  test("keepFirst dedup is deterministic and idempotent") {
    val df = Seq((1, "x", 10), (1, "x", 5), (2, "y", 7)).toDF("id", "t", "ord")
    val once = Dedup.keepFirst(df, Seq("id", "t"), Seq(col("ord").asc))
    assert(once.count() == 2)
    assert(once.filter($"id" === 1).select("ord").collect()(0).getInt(0) == 5)
    val twice = Dedup.keepFirst(once, Seq("id", "t"), Seq(col("ord").asc))
    assert(twice.collect().toSet == once.collect().toSet)
  }

  test("insertIfAbsent keeps only new keys (ON CONFLICT DO NOTHING)") {
    val existing = Seq(1, 2, 3).toDF("k")
    val incoming = Seq(2, 3, 4, 5).toDF("k")
    val out = Dedup.insertIfAbsent(incoming, existing, Seq("k"))
    assert(out.collect().map(_.getInt(0)).toSet == Set(4, 5))
  }

  test("insertIfAbsent excludes a match once when existing holds its key twice") {
    val existing = Seq(2, 2, 3).toDF("k")
    val incoming = Seq((2, "a"), (4, "b"), (4, "c")).toDF("k", "v")
    val out = Dedup.insertIfAbsent(incoming, existing, Seq("k"))
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ==
      Seq((4, "b"), (4, "c")))
  }

  test("sizeOrZero guards null arrays (size(NULL) = -1 trap)") {
    val df = Seq((Some(Seq("a", "b")), 1), (None, 2)).toDF("arr", "i")
    val out = df.select(Explode.sizeOrZero(col("arr")).as("n")).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2, 0))
  }

  test("unnest drops null/empty elements and keeps parent cols") {
    val df = Seq((1, Seq("a", "", "b"))).toDF("id", "arr")
    val out = Explode.unnest(df, col("arr"), "w", col("id"))
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (1, "b")))
  }
}
