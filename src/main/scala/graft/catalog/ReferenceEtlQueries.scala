package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pipelines.{Ecommerce, Iot, PetsNutrition}
import graft.sources.{Fixtures, Sources}

/** The reference ETL family: the q-queries that reproduce the paper's
  * SQL surface (IoT flagship, marts, dedup/replication, incremental,
  * shredding, the final-module pipeline, sorts/set ops, headline
  * analytics and the disk sinks), plus the north-star extensions over
  * the same reference tables (sessionize in batch and streaming,
  * sampling, sketches, as-of / salted / range joins). The sink-scratch
  * and memory-sink drain helpers live here because only these entries
  * write sinks.
  */
private[graft] object ReferenceEtlQueries {
  import Shared._

  private def cleanSess(s: SparkSession, d: String) =
    Ecommerce.cleanSessions(Ecommerce.sessionsFromEvents(ev(s, d)))

  /** Per-day cent-exact average of `value` — the shared daily aggregate
    * behind q11 (upsert merge) and q45 (partition-overwrite sink).
    */
  private def dailyCentAvg(events: DataFrame): DataFrame =
    events.select(to_date(col("ts")).as("day"), col("value"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("__vals"), // null-ignoring avg denominator
        sum(round(col("value") * 100, 0).cast("long")).as("__cents"))
      .select(col("day"),
        (floor(col("__cents") / col("__vals") + 0.5) / 100.0).as("avg_value"),
        col("n"))

  /** Fresh sink scratch dir under one JVM-scoped root that a shutdown
    * hook deletes recursively — repeated bench/verify rounds must not
    * accumulate parquet copies in the system temp dir.
    */
  private lazy val sinkScratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_sinks_")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(root)))
    root
  }

  private def sinkScratch(prefix: String): String =
    java.nio.file.Files
      .createTempDirectory(sinkScratchRoot, prefix).toString

  /** Drain a finished memory-sink stream (x51/x52) to scratch parquet
    * and release the per-invocation driver state: each call runs its
    * stream on a fresh `newSession()` clone, and before this helper the
    * clone's memory-sink temp view (holding the FULL result set) and
    * its terminated-query registration survived for the process
    * lifetime — one leaked copy per bench rep. The parquet round-trip
    * also rebinds the result to the PARENT session, so the returned
    * frame keeps no reference into the clone at all.
    *
    * Lifetime contract: the returned frame is backed by EPOCH-suffixed
    * scratch files that survive exactly until the NEXT invocation for
    * the same view completes — bench reps keep one result-set copy on
    * disk (not one per rep), and a frame held across reps fails LOUDLY
    * on read (missing files) instead of silently serving the newer
    * rep's rows, as an overwrite-in-place of a fixed path would.
    *
    * Epochs are keyed by view name PROCESS-wide, so the retire step
    * assumes drains for a given view are SEQUENTIAL (the bench/verify
    * reality: one catalog invocation at a time). Two concurrent drains
    * of the same view could retire an epoch the other is still
    * writing/reading; a concurrent caller must key by (session, view)
    * — e.g. pass a session-suffixed view name — to get disjoint epochs.
    */
  private val drainEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val drainsInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def drainMemorySink(parent: SparkSession, clone: SparkSession,
                              view: String, projected: DataFrame): DataFrame = {
    // ENFORCE the sequential-caller contract instead of only documenting
    // it: a second concurrent drain of the same view would retire an
    // epoch the first is still writing/reading — fail loudly at entry
    // rather than serve a torn read later
    require(drainsInFlight.add(view),
      s"concurrent drainMemorySink for view '$view': drains per view " +
        "must be sequential — key concurrent callers by (session, view), " +
        "e.g. a session-suffixed view name")
    try {
      val epoch: Long =
        drainEpochs.merge(view, 1L, (a, b) => a + b)
      val out = sinkScratchRoot.resolve(s"${view}_out_$epoch")
      projected.write.mode("overwrite").parquet(out.toString)
      clone.catalog.dropTempView(view)
      clone.streams.resetTerminated()
      // the new epoch is fully written — retire the previous one now
      if (epoch > 1L)
        deleteRecursively(sinkScratchRoot.resolve(s"${view}_out_${epoch - 1}"))
      Tables.parquet(parent, out.toString)
    } finally drainsInFlight.remove(view)
  }

  /** Best-effort recursive delete (same tolerance as the shutdown hook:
    * never let one un-deletable path abort the caller).
    */
  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file._
    import java.util.Comparator
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
      catch { case _: Exception => () }
      finally walk.close()
    }
  }

  /** Populate a streaming landing dir with a parquet table's DATA FILES.
    * The table path may be a single file (the shipped sf dirs) or a directory
    * of part files (generated scale corpora) — the file-stream source
    * only lists plain files at the top of the landing dir, so a symlink
    * to a table DIRECTORY would be silently ignored (observed at 10×:
    * 0-input-rows stream, x51/x52 single-batch assert fired). Linking
    * each data file individually matches both shapes — and the real
    * landing-zone contract, where files arrive as files.
    */
  private def linkIntoLanding(landing: String, table: java.nio.file.Path): Unit = {
    import java.nio.file._
    val target = table.toAbsolutePath
    if (Files.isDirectory(target)) {
      val ls = Files.list(target)
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.createSymbolicLink(
          Paths.get(landing, p.getFileName.toString), p))
      finally ls.close()
    } else {
      Files.createSymbolicLink(
        Paths.get(landing, target.getFileName.toString), target)
    }
  }

  /** The IoT flagship's band (the reference's `base` and `p` CTEs): the
    * clean readings, and their exact 5th and 95th percentiles — the
    * twin of `Iot.cleanBanded` before its filter.
    */
  private val iotBandCtes: String =
    """base AS (
      |  SELECT event_id, ts::DATE AS day, value FROM events
      |  WHERE value IS NOT NULL AND trim(lower(event_type)) <> ''),
      |p AS (
      |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
      |         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
      |  FROM base)""".stripMargin

  /** [[iotBandCtes]] and `daily`(day, avg_value, n): the cent-exact
    * daily average of the banded readings — the twin of `Iot.dailyAvg`.
    */
  private val iotDailyCtes: String =
    s"""$iotBandCtes,
      |daily AS (
      |  SELECT day,
      |         floor(sum(CAST(round(value * 100) AS BIGINT)) / count(*) + 0.5)
      |           / 100.0 AS avg_value,
      |         count(*) AS n
      |  FROM base, p WHERE value BETWEEN p_lo AND p_hi GROUP BY day)""".stripMargin

  /** q03/q04: the five days of [[iotDailyCtes]] first in `dir` order of
    * their average, ranked — the twin of `Iot.top5Hot` / `top5Cold`.
    */
  private def iotTop5Oracle(dir: String): String =
    s"""WITH $iotDailyCtes
      |SELECT day, avg_value, n,
      |       CAST(row_number() OVER (ORDER BY avg_value $dir, day ASC) AS BIGINT) AS rnk
      |FROM daily ORDER BY avg_value $dir, day ASC LIMIT 5""".stripMargin

  /** The cent-exact daily average of `events.value` — the twin of
    * [[dailyCentAvg]] (q11, q45) and of `Incremental.incrementalDailyAvg`'s
    * aggregate (q10): the sum of whole cents divided
    * by the non-null count, rounded half up to a cent, and the row count
    * per day. `from` is the FROM clause, a filter included.
    */
  private def dailyCentAvgSql(from: String): String =
    s"""SELECT ts::DATE AS day,
      |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(value) + 0.5)
      |         / 100.0 AS avg_value,
      |       count(*) AS n
      |FROM $from GROUP BY 1""".stripMargin

  /** The sessions derived from `events` as the CTE `s` — the twin of
    * `Ecommerce.sessionsFromEvents` (q27, q28), before `cleanSessions`'
    * duration filter.
    */
  private val sessionsCte: String =
    """s AS (
      |  SELECT event_id AS session_id, user_id, ts AS start_time,
      |         ts + to_minutes(event_id % 2000 - 2) AS end_time,
      |         CASE WHEN event_id % 7 = 0 THEN NULL
      |              ELSE list_slice(string_split('home search product cart checkout', ' '),
      |                              1, CAST(event_id % 5 + 1 AS INT)) END AS pages_visited,
      |         CASE WHEN event_id % 11 = 0 THEN NULL
      |              ELSE list_slice(string_split('click scroll search purchase logout', ' '),
      |                              1, CAST(event_id % 4 + 1 AS INT)) END AS actions,
      |         string_split('mobile desktop tablet', ' ')[CAST(event_id % 3 + 1 AS INT)] AS device
      |  FROM events)""".stripMargin

  /** Fixture payload for the JSON-shredding family (S3/F13/J4/A8/F12) —
    * single source of truth in the pipeline object; the q14 oracle's
    * VALUES are derived from it.
    */
  private def petsJson = PetsNutrition.petsJson

  /** q13's single-parse shred schema (name/brand/size children of the
    * `<part>` root).
    */
  private val partXmlSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("brand",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("size",
      org.apache.spark.sql.types.IntegerType)))

  val entries: Seq[Entry] = Seq(
    // ---- IoT flagship family (SURVEY §3.1: P1-P4, A1, A2, J1, W1, T1) ----
    Entry("q01_iot_clean", (s, d) => Iot.cleanBanded(ev(s, d)), Sql(
      s"""WITH $iotBandCtes
        |SELECT event_id, day, value FROM base, p
        |WHERE value BETWEEN p_lo AND p_hi""".stripMargin)),
    Entry("q02_iot_daily", (s, d) => Iot.dailyAvg(ev(s, d)), Sql(
      s"""WITH $iotDailyCtes
        |SELECT day, avg_value, n FROM daily""".stripMargin)),
    Entry("q03_iot_top5_hot", (s, d) => Iot.top5Hot(ev(s, d)), Sql(iotTop5Oracle("DESC"))),
    Entry("q04_iot_top5_cold", (s, d) => Iot.top5Cold(ev(s, d)), Sql(iotTop5Oracle("ASC"))),

    // ---- marts family (A3-A6, J2, W2, F8-F10) ----
    Entry("q05_top_event_type", (s, d) =>
      Top1PerGroup.top1(ev(s, d), Seq("user_id"), "event_type"), Sql(
      """SELECT user_id, event_type, cnt FROM (
        |  SELECT user_id, event_type, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY count(*) DESC, event_type ASC) AS rn
        |  FROM events GROUP BY user_id, event_type) t
        |WHERE rn = 1""".stripMargin)),
    Entry("q06_user_activity_mart", (s, d) => Marts.userActivityMart(ev(s, d)), Sql(
      """WITH stats AS (
        |  SELECT user_id, count(*) AS n_events,
        |         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
        |         floor(sum(CAST(round(value * 100) AS BIGINT))
        |               / count(*) + 0.5) / 100.0 AS avg_value,
        |         count(DISTINCT ts::DATE) AS n_active_days
        |  FROM events GROUP BY user_id),
        |top AS (
        |  SELECT user_id, event_type AS top_event_type, cnt AS top_event_cnt FROM (
        |    SELECT user_id, event_type, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY count(*) DESC, event_type ASC) AS rn
        |    FROM events GROUP BY user_id, event_type) t WHERE rn = 1)
        |SELECT s.user_id, s.n_events, s.total_value, s.avg_value, s.n_active_days,
        |       top.top_event_type, top.top_event_cnt
        |FROM stats s LEFT JOIN top USING (user_id)""".stripMargin)),
    Entry("q07_order_status_mart", (s, d) => Marts.orderStatusMart(Tables.orders(s, d)), Sql(
      """SELECT date_trunc('month', o_orderdate)::DATE AS order_month,
        |       count(*) AS n_orders,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
        |       floor(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |             / count(o_totalprice) + 0.5) / 100.0 AS avg_price,
        |       round(min(o_totalprice), 2) AS min_price,
        |       round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1""".stripMargin)),

    // ---- dedup / replication family (A7, K3, S6, A9) ----
    Entry("q08_dedup_keep_first", (s, d) =>
      Dedup.keepFirst(ev(s, d), Seq("user_id", "event_type"),
          Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id")), Sql(
      """SELECT user_id, event_type, event_id AS first_event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin)),
    Entry("q09_insert_if_absent", (s, d) => {
      val all = ev(s, d)
      Dedup.insertIfAbsent(all, all.filter(col("event_id") % 10 =!= 0), Seq("event_id"))
        .select("event_id", "user_id", "event_type")
    }, Sql(
      """SELECT event_id, user_id, event_type FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events o
        |  WHERE o.event_id % 10 <> 0 AND o.event_id = e.event_id)""".stripMargin)),

    // ---- incremental family (P8, K4, K5, F16) ----
    Entry("q10_incremental_daily", (s, d) =>
      Incremental.incrementalDailyAvg(ev(s, d), 8), Sql(
      s"""WITH m AS (SELECT max(ts::DATE) - 7 AS cutoff FROM events)
        |${dailyCentAvgSql("events, m WHERE ts::DATE >= cutoff")}""".stripMargin)),
    Entry("q11_upsert_merge", (s, d) => {
      val events = ev(s, d)
      val daily = dailyCentAvg(events)
      val cutoff = events.agg(date_sub(max(to_date(col("ts"))), 7).as("cutoff"))
      val incoming = daily.crossJoin(broadcast(cutoff))
        .filter(col("day") >= col("cutoff")).drop("cutoff")
      Incremental.mergeWindow(daily, incoming, "day", cutoff)
    }, Sql(dailyCentAvgSql("events"))),

    // K4 generalized: arbitrary-key full-row upsert (incoming wins,
    // existing survives where unclaimed)
    Entry("q32_upsert_bykey", (s, d) => {
      val events = ev(s, d)
      val existing = events.filter(col("event_id") % 3 =!= 0)
        .select("event_id", "user_id", "value")
      val incoming = events.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"))
      Incremental.upsertByKey(existing, incoming, Seq("event_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT event_id, user_id, value FROM events WHERE event_id % 3 <> 0),
        |i AS (
        |  SELECT event_id, user_id, value * 2 AS value FROM events
        |  WHERE event_id % 2 = 0)
        |SELECT event_id, user_id, value FROM i
        |UNION ALL
        |SELECT e.event_id, e.user_id, e.value FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM i WHERE i.event_id = e.event_id)""".stripMargin)),

    // ---- shredding family (S3/S4, F13-F15, J4, A8, F12) ----
    Entry("q12_json_shred", (s, d) =>
      ev(s, d).select(col("event_id"), Shred.jsonInt(col("props"), "$.k").as("k")), Sql(
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) AS k
        |FROM events""".stripMargin)),
    // ONE from_xml parse per row (was 3 xpath_* calls = 3 DOM
    // re-parses per row — the slowest reference-surface bench entry)
    Entry("q13_xml_shred", (s, d) => {
      val xml = concat(
        lit("<part><name>"), col("p_name"), lit("</name><brand>"), col("p_brand"),
        lit("</brand><size>"), col("p_size"), lit("</size></part>"))
      Tables.part(s, d)
        .select(col("p_partkey"),
          Shred.parseXml(xml, partXmlSchema).as("x"))
        .select(col("p_partkey"),
          col("x.name").as("name_x"),
          col("x.brand").as("brand_x"),
          col("x.size").as("size_x"))
    }, Sql(
      """SELECT p_partkey, p_name AS name_x, p_brand AS brand_x, p_size AS size_x
        |FROM part""".stripMargin)),
    Entry("q14_shred_pets", (s, d) => {
      val src = s.createDataFrame(Seq(Tuple1(petsJson))).toDF("payload")
      Shred.shredPets(src, "payload").select(
        col("name"), col("species"), col("birth_year"), col("photo"),
        Explode.sizeOrZero(col("fav_foods")).as("n_foods"),
        coalesce(array_join(col("fav_foods"), ";"), lit("")).as("foods"))
    }, Sql(
      """SELECT * FROM (VALUES
        |  ('Rex', 'dog', 2019, 'rex.png', 2, 'beef;chicken'),
        |  ('Mia', 'cat', 2021, 'mia.png', 0, ''),
        |  ('Bub', 'fish', 2022, 'bub.png', 1, 'flakes'),
        |  ('Tom', 'cat', 2018, 'tom.png', 1, 'tuna'),
        |  ('Zoe', 'parrot', 2020, 'zoe.png', 1, '<strong>any</strong> food'))
        |AS t(name, species, birth_year, photo, n_foods, foods)""".stripMargin)),
    // F15 complete: all 7 daily-value metrics and the full food field set
    // (nutrition_foods target, HW-2/init/init.sql:291-322)
    Entry("q30_nutrition_daily", (s, d) => PetsNutrition.dailyValues(s), Sql(
      """SELECT metric, units, CAST(value AS DOUBLE) AS value FROM (VALUES
        |  ('total-fat', 'g', 65), ('saturated-fat', 'g', 21),
        |  ('cholesterol', 'mg', 290), ('sodium', 'mg', 2400),
        |  ('carb', 'g', 300), ('fiber', 'g', 24), ('protein', 'g', 50))
        |AS t(metric, units, value)""".stripMargin)),
    Entry("q31_nutrition_foods", (s, d) => PetsNutrition.foods(s), Sql(
      """SELECT name, mfr, serving, serving_units,
        |       CAST(calories_total AS INT) AS calories_total,
        |       CAST(calories_fat AS INT) AS calories_fat,
        |       CAST(total_fat AS DOUBLE) AS total_fat,
        |       CAST(saturated_fat AS DOUBLE) AS saturated_fat,
        |       CAST(cholesterol AS DOUBLE) AS cholesterol,
        |       CAST(sodium AS DOUBLE) AS sodium,
        |       CAST(carb AS DOUBLE) AS carb,
        |       CAST(fiber AS DOUBLE) AS fiber,
        |       CAST(protein AS DOUBLE) AS protein,
        |       CAST(vitamin_a AS DOUBLE) AS vitamin_a,
        |       CAST(vitamin_c AS DOUBLE) AS vitamin_c,
        |       CAST(mineral_ca AS DOUBLE) AS mineral_ca,
        |       CAST(mineral_fe AS DOUBLE) AS mineral_fe
        |FROM (VALUES
        |  ('Oat Rings', 'GrainCo', '1', ' cup', 110, 10,
        |   2, 0.5, 0, 190, 22.5, 3, 4, 25, 2, 10, 45),
        |  ('Berry Mix', 'FruitCo', '40', 'g', 140, 0,
        |   0, 0, 0, 5, 34, 2.5, 1, 0, 45, 2, 4))
        |AS t(name, mfr, serving, serving_units, calories_total, calories_fat,
        |     total_fat, saturated_fat, cholesterol, sodium, carb, fiber,
        |     protein, vitamin_a, vitamin_c, mineral_ca, mineral_fe)""".stripMargin)),

    // ---- final-module pipeline under the oracle gate (P5-P7, P9-P10,
    // F9, F11, A9→counts, T3): clean sessions → user-activity mart, and
    // clean tickets → support-efficiency mart, over DuckDB-replicable
    // collections derived from events/orders ----
    Entry("q27_clean_sessions", (s, d) =>
      cleanSess(s, d)
        .select("session_id", "user_id", "session_date", "duration_min",
          "num_pages", "num_actions", "device"), Sql(
      s"""WITH $sessionsCte
        |SELECT session_id, user_id, start_time::DATE AS session_date,
        |       round(epoch(end_time - start_time) / 60.0, 2) AS duration_min,
        |       CAST(CASE WHEN pages_visited IS NULL THEN 0 ELSE len(pages_visited) END AS INT) AS num_pages,
        |       CAST(CASE WHEN actions IS NULL THEN 0 ELSE len(actions) END AS INT) AS num_actions,
        |       device
        |FROM s
        |WHERE start_time < end_time
        |  AND end_time < start_time + INTERVAL 24 HOURS""".stripMargin)),
    // NOT cached: the stats + 3 top-1 subtrees re-run the map-only clean
    // lineage, which measures CHEAPER than materializing the array-heavy
    // clean frame (cache write+read cost > three vectorized re-scans);
    // at real scale the clean layer is a materialized table anyway
    // the mart consumes the clean layer four times (stats agg + 3
    // top-1-per-group passes) — deliberately UNcached: each consumer
    // prunes to a narrow column set against the parquet scan, and
    // caching the wide array-bearing frame was MEASURED slower (0.85s →
    // 2.4s at sf0.1; no win at 10×) than the four pruned recomputes.
    // The staged-cache discipline (x41) pays off only when consumers
    // need the same expensive wide derivation — here they don't.
    Entry("q28_mart_user_activity", (s, d) =>
      Ecommerce.martUserActivity(cleanSess(s, d)), Sql(
      s"""WITH $sessionsCte,
        |c AS (
        |  SELECT user_id, date_trunc('month', start_time::DATE)::DATE AS report_month,
        |         round(epoch(end_time - start_time) / 60.0, 2) AS duration_min,
        |         CASE WHEN pages_visited IS NULL THEN 0 ELSE len(pages_visited) END AS num_pages,
        |         CASE WHEN actions IS NULL THEN 0 ELSE len(actions) END AS num_actions,
        |         device, pages_visited, actions
        |  FROM s
        |  WHERE start_time < end_time
        |    AND end_time < start_time + INTERVAL 24 HOURS),
        |stats AS (
        |  SELECT user_id, report_month, count(*) AS sessions_count,
        |         sum(CAST(round(duration_min * 100) AS BIGINT)) / 100.0 AS total_duration_min,
        |         floor(sum(CAST(round(duration_min * 100) AS BIGINT))
        |               / count(duration_min) + 0.5) / 100.0 AS avg_duration_min,
        |         CAST(sum(num_pages) AS BIGINT) AS total_pages,
        |         floor(sum(num_actions * 100) / count(num_actions) + 0.5) / 100.0 AS avg_actions
        |  FROM c GROUP BY 1, 2),
        |td AS (
        |  SELECT user_id, report_month, device AS top_device FROM (
        |    SELECT user_id, report_month, device,
        |           row_number() OVER (PARTITION BY user_id, report_month
        |                              ORDER BY count(*) DESC, device ASC) AS rn
        |    FROM c GROUP BY user_id, report_month, device) t WHERE rn = 1),
        |tp AS (
        |  SELECT user_id, report_month, page_val AS top_page FROM (
        |    SELECT user_id, report_month, page_val,
        |           row_number() OVER (PARTITION BY user_id, report_month
        |                              ORDER BY count(*) DESC, page_val ASC) AS rn
        |    FROM c, UNNEST(pages_visited) AS u(page_val)
        |    GROUP BY user_id, report_month, page_val) t WHERE rn = 1),
        |ta AS (
        |  SELECT user_id, report_month, action_val AS top_action FROM (
        |    SELECT user_id, report_month, action_val,
        |           row_number() OVER (PARTITION BY user_id, report_month
        |                              ORDER BY count(*) DESC, action_val ASC) AS rn
        |    FROM c, UNNEST(actions) AS u(action_val)
        |    GROUP BY user_id, report_month, action_val) t WHERE rn = 1)
        |SELECT s.user_id, s.report_month, sessions_count, total_duration_min,
        |       avg_duration_min, total_pages, avg_actions,
        |       top_device, top_page, top_action
        |FROM stats s
        |LEFT JOIN td USING (user_id, report_month)
        |LEFT JOIN tp USING (user_id, report_month)
        |LEFT JOIN ta USING (user_id, report_month)""".stripMargin)),
    Entry("q29_support_efficiency", (s, d) =>
      Ecommerce.martSupportEfficiency(
        Ecommerce.cleanTickets(
          Ecommerce.ticketsFromOrders(Tables.orders(s, d)))), Sql(
      """WITH t AS (
        |  SELECT o_orderkey AS ticket_id, o_custkey AS user_id,
        |         string_split('open closed pending resolved', ' ')[CAST(o_orderkey % 4 + 1 AS INT)] AS status,
        |         string_split('billing technical account delivery', ' ')[CAST((o_orderkey // 4) % 4 + 1 AS INT)] AS issue_type,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE list_slice(string_split('m1 m2 m3 m4 m5', ' '),
        |                              1, CAST(o_orderkey % 5 + 1 AS INT)) END AS messages,
        |         o_orderdate AS created_at,
        |         o_orderdate + to_hours(o_orderkey % 100 - 3) AS updated_at
        |  FROM orders),
        |c AS (
        |  SELECT date_trunc('month', created_at)::DATE AS report_month, issue_type, status,
        |         CASE WHEN messages IS NULL THEN 0 ELSE len(messages) END AS message_count,
        |         round(epoch(updated_at - created_at) / 3600.0, 2) AS resolution_hours
        |  FROM t WHERE created_at <= updated_at)
        |SELECT report_month, issue_type,
        |       count(*) AS tickets_count,
        |       CAST(sum(CASE WHEN status = 'open' THEN 1 ELSE 0 END) AS BIGINT) AS open_count,
        |       CAST(sum(CASE WHEN status = 'closed' THEN 1 ELSE 0 END) AS BIGINT) AS closed_count,
        |       CAST(sum(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS BIGINT) AS pending_count,
        |       CAST(sum(CASE WHEN status = 'resolved' THEN 1 ELSE 0 END) AS BIGINT) AS resolved_count,
        |       floor(sum(CAST(round(resolution_hours * 100) AS BIGINT))
        |             / count(resolution_hours) + 0.5) / 100.0 AS avg_resolution_hours,
        |       round(min(resolution_hours), 2) AS min_resolution_hours,
        |       round(max(resolution_hours), 2) AS max_resolution_hours,
        |       floor(sum(message_count * 100) / count(message_count) + 0.5) / 100.0 AS avg_messages
        |FROM c GROUP BY 1, 2""".stripMargin)),
    // P9 null-safe nested-struct unwrap + P7 null-timestamp filter
    Entry("q33_clean_event_logs", (s, d) =>
      Ecommerce.cleanEventLogs(
          Ecommerce.eventLogsFromEvents(ev(s, d)))
        .select("event_id", "event_type", "page", "user_id", "error_code",
          "event_date"), Sql(
      """SELECT event_id, event_type,
        |       '/page/' || CAST(event_id % 20 AS VARCHAR) AS page,
        |       CAST(user_id AS VARCHAR) AS user_id,
        |       CASE WHEN event_id % 5 = 0
        |            THEN CAST(event_id % 7 + 500 AS INT) END AS error_code,
        |       ts::DATE AS event_date
        |FROM events WHERE event_id % 10 <> 0""".stripMargin)),
    // K2 surrogate-key generation (INSERT ... RETURNING id equivalent)
    Entry("q34_pets_ids", (s, d) =>
      PetsNutrition.pets(s)
        .select("pet_id", "name", "species", "birth_year", "photo"), Sql(
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Bub', 'fish', 2022, 'bub.png'),
        |  (CAST(2 AS BIGINT), 'Mia', 'cat', 2021, 'mia.png'),
        |  (CAST(3 AS BIGINT), 'Rex', 'dog', 2019, 'rex.png'),
        |  (CAST(4 AS BIGINT), 'Tom', 'cat', 2018, 'tom.png'),
        |  (CAST(5 AS BIGINT), 'Zoe', 'parrot', 2020, 'zoe.png'))
        |AS t(pet_id, name, species, birth_year, photo)""".stripMargin)),
    // S7/F18 deterministic seed generator: golden cardinalities as the
    // reference's implicit test oracle (seed_mongo.py:27-31)
    Entry("q35_fixture_counts", (s, d) => {
      Seq(
        "user_sessions" -> Fixtures.userSessions(s),
        "event_logs" -> Fixtures.eventLogs(s),
        "support_tickets" -> Fixtures.supportTickets(s),
        "user_recommendations" -> Fixtures.userRecommendations(s),
        "moderation_queue" -> Fixtures.moderationQueue(s))
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n")).withColumn("fixture", lit(n))
            .select("fixture", "n")
        }.reduce(_ unionByName _)
    }, Sql(
      """SELECT fixture, CAST(n AS BIGINT) AS n FROM (VALUES
        |  ('user_sessions', 2050), ('event_logs', 5100),
        |  ('support_tickets', 600), ('user_recommendations', 200),
        |  ('moderation_queue', 800))
        |AS t(fixture, n)""".stripMargin)),
    // S2 all-TEXT CSV round-trip: serialize → headerless CSV parse with a
    // declared all-string schema → type in the transform (raw-layer
    // semantics, HW-3/init/init.sql:6-13)
    Entry("q36_csv_roundtrip", (s, d) => {
      import s.implicits._
      val lines = ev(s, d)
        .select(concat_ws(",", col("event_id"), col("event_type")).as("line"))
        .as[String]
      Sources.rawCsvLines(s, lines, Seq("event_id", "event_type"))
        .select(col("event_id").cast("long").as("event_id"), col("event_type"))
    }, Sql(
      """SELECT event_id, event_type FROM events""".stripMargin)),
    // S5 document-collection round-trip: rows → JSON-lines → schema-
    // declared json scan (never inferSchema) incl. a nested struct field
    Entry("q37_json_collection", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val lines = ev(s, d).select(to_json(struct(
        col("event_id"), col("event_type"),
        struct(col("user_id"), col("value")).as("meta"))).as("j")).as[String]
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("meta", StructType(Seq(
          StructField("user_id", LongType),
          StructField("value", DoubleType))))))
      s.read.schema(schema).json(lines)
        .select(col("event_id"), col("event_type"),
          col("meta.user_id").as("user_id"), col("meta.value").as("value"))
    }, Sql(
      """SELECT event_id, event_type, user_id, value FROM events""".stripMargin)),

    // K1 truncate-and-reload under the oracle gate: load a STALE subset,
    // then reload the full frame over it, and return the read-back. If
    // the sink appended instead of truncating, the subset rows duplicate
    // and the row/hash compare fails; the oracle is the identity on the
    // source columns.
    Entry("q44_sink_truncate", (s, d) => {
      val tmp = sinkScratch("q44") + "/events_sink"
      val events = ev(s, d).select("event_id", "event_type", "user_id")
      graft.sources.Sinks.truncateReload(
        events.filter(col("event_id") % 5 === 0), tmp)
      graft.sources.Sinks.truncateReload(events, tmp)
      Tables.parquet(s, tmp)
    }, Sql(
      """SELECT event_id, event_type, user_id FROM events""".stripMargin)),
    // K5 windowed delete+rebuild under the oracle gate: full partitioned
    // load with the last-7-days partitions CORRUPTED (n = -1), then a
    // dynamic partition-overwrite of just the recomputed window. The
    // read-back must equal the clean full recompute — proving the
    // overwrite replaced ONLY the window partitions (a static overwrite
    // would drop history → missing rows; an append would duplicate).
    Entry("q45_sink_overwrite_window", (s, d) => {
      val tmp = sinkScratch("q45") + "/daily_sink"
      val events = ev(s, d)
      val cutoff = events.agg(date_sub(max(to_date(col("ts"))), 7).as("cutoff"))
      // pinned (tiny: one row per day): BOTH sink writes consume it, and
      // unpinned each would re-run the full events scan + aggregate
      val withCut = dailyCentAvg(events).crossJoin(broadcast(cutoff))
        .localCheckpoint(true)
      graft.sources.Sinks.partitionedReload(
        withCut.withColumn("n",
            when(col("day") >= col("cutoff"), lit(-1L)).otherwise(col("n")))
          .drop("cutoff"),
        tmp, "day")
      graft.sources.Sinks.overwriteWindow(
        withCut.filter(col("day") >= col("cutoff")).drop("cutoff"), tmp, "day")
      // the read-back takes the schema of the frame written, so it infers
      // nothing (an inferring read starts one job to read the footers)
      s.read.schema(withCut.drop("cutoff").schema).parquet(tmp)
        .select("day", "avg_value", "n")
    }, Sql(dailyCentAvgSql("events"))),
    // K3 insert-if-absent DISK sink under the oracle gate (q09 pins the
    // anti-join logic; this pins the storage round-trip): seed the target
    // with the %3 rows, then appendIfAbsent the %2 rows — the %6 overlap
    // must NOT duplicate. Read-back = rows with event_id %3==0 OR %2==0,
    // an identity the oracle states directly; an append-without-anti-join
    // fails the row count, a truncate-instead-of-append loses %3 rows.
    Entry("q46_sink_append_absent", (s, d) => {
      val tmp = sinkScratch("q46") + "/events_sink"
      val events = ev(s, d).select("event_id", "event_type", "user_id")
      graft.sources.Sinks.truncateReload(
        events.filter(col("event_id") % 3 === 0), tmp)
      graft.sources.Sinks.appendIfAbsent(
        events.filter(col("event_id") % 2 === 0), tmp, Seq("event_id"))
      Tables.parquet(s, tmp)
    }, Sql(
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_id % 3 = 0 OR event_id % 2 = 0""".stripMargin)),
    // K4 upsert DISK sink under the oracle gate (q11/q32 pin the merge
    // logic; this pins the staging-swap storage round-trip): load the
    // full frame, then upsert a batch that UPDATES the %4 keys (value
    // bumped by 1000) and INSERTS fresh keys (+10000000 ids for the %5==1
    // rows). The read-back must show updated, untouched, and inserted
    // rows exactly — an incoming-loses merge, a dropped-history swap, or
    // a double-apply all fail the hash.
    Entry("q47_sink_upsert_reload", (s, d) => {
      val tmp = sinkScratch("q47") + "/events_sink"
      val events = ev(s, d).select("event_id", "event_type", "user_id")
      graft.sources.Sinks.truncateReload(events, tmp)
      val updates = events.filter(col("event_id") % 4 === 0)
        .withColumn("user_id", col("user_id") + 1000L)
      val inserts = events.filter(col("event_id") % 5 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
      graft.sources.Sinks.upsertReload(updates.unionByName(inserts),
        tmp, Seq("event_id"))
      Tables.parquet(s, tmp)
    }, Sql(
      """SELECT event_id, event_type,
        |       CASE WHEN event_id % 4 = 0 THEN user_id + 1000
        |            ELSE user_id END AS user_id
        |FROM events
        |UNION ALL
        |SELECT event_id + 10000000, event_type, user_id FROM events
        |WHERE event_id % 5 = 1""".stripMargin)),

    // ---- sorts / set ops / arrays (T1-T3, U1, J3, A8, F12) ----
    Entry("q15_latest_event", (s, d) =>
      TopK.latestBy(ev(s, d), "event_id")
        .select("event_id", "user_id", "event_type", "value"), Sql(
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id DESC LIMIT 1""".stripMargin)),
    Entry("q16_explode_words", (s, d) =>
      Explode.unnest(Tables.part(s, d), split(col("p_name"), " "), "word", col("p_partkey")), Sql(
      """SELECT p_partkey, word FROM (
        |  SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part) t
        |WHERE word IS NOT NULL AND word <> ''""".stripMargin)),
    Entry("q17_array_stats", (s, d) =>
      // empties filtered on BOTH sides: Spark split drops trailing empty
      // strings, DuckDB string_split keeps them — explicit filters align
      Explode.arrayStats(Tables.part(s, d), col("p_partkey"),
          filter(split(col("p_name"), " "), w => w =!= ""))
        .withColumn("n_items", col("n_items").cast("long")), Sql(
      """SELECT p_partkey,
        |       CAST(len(list_filter(string_split(p_name, ' '), x -> x <> ''))
        |         AS BIGINT) AS n_items,
        |       array_to_string(list_filter(string_split(p_name, ' '), x -> x <> ''),
        |         ';') AS joined
        |FROM part""".stripMargin)),
    Entry("q18_union_counts", (s, d) => {
      val tables = Seq("region", "nation", "supplier", "customer", "part")
      tables.map(t => Tables.table(s, d, t)
          .agg(count(lit(1)).as("n")).withColumn("tbl", lit(t)).select("tbl", "n"))
        .reduce(_ unionByName _)
    }, Sql(
      """SELECT 'region' AS tbl, count(*) AS n FROM region
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |UNION ALL SELECT 'customer', count(*) FROM customer
        |UNION ALL SELECT 'part', count(*) FROM part""".stripMargin)),

    // P1/F2/F3/F5/F7 typed clean, exercised as a round-trip: format ts and
    // value to raw text (two timestamp formats by parity, decimal-comma
    // floats) then re-type them with the cleaning operators. The oracle is
    // the identity on the source columns — exactly the reference's
    // "all-TEXT raw layer, typed in the transform" semantics
    // (HW-3/init/init.sql:6-13 + iot_temperature.py:48-62).
    Entry("q19_typed_clean", (s, d) => {
      val raw = ev(s, d).select(
        col("event_id"),
        when(col("event_id") % 2 === 0,
            date_format(col("ts"), "dd-MM-yyyy HH:mm:ss"))
          .otherwise(date_format(col("ts"), "dd-MM-yyyy HH:mm")).as("noted"),
        translate(col("value").cast("string"), ".", ",").as("temp_txt"))
      raw.select(
        col("event_id"),
        to_date(Cleaning.parseTsMultiFormat(col("noted"))).as("day"),
        Cleaning.numericText(col("temp_txt")).as("temp"))
    }, Sql(
      """SELECT event_id, ts::DATE AS day, value AS temp FROM events""".stripMargin)),

    // ---- headline analytics at bench scale (scan→join→agg→sort) ----
    Entry("q20_pricing_summary", (s, d) =>
      Analytics.pricingSummary(Tables.lineitem(s, d), "1998-01-01")
        .withColumn("sum_qty", col("sum_qty").cast("double"))
        .withColumn("sum_base_price", col("sum_base_price").cast("double"))
        .withColumn("sum_disc_price", col("sum_disc_price").cast("double")), Sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |       round(avg(l_quantity), 2) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Entry("q21_shipping_priority", (s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
          Tables.lineitem(s, d), "AUTOMOBILE", "1998-01-01")
        .withColumn("revenue", col("revenue").cast("double")), Sql(
      """SELECT o_orderkey, o_orderdate::DATE AS o_orderdate,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'AUTOMOBILE'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate::DATE
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)),
    Entry("q22_revenue_by_nation", (s, d) =>
      Analytics.revenueByNation(Tables.region(s, d), Tables.nation(s, d),
          Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
          "ASIA", "1996-01-01", "1997-01-01")
        .withColumn("revenue", col("revenue").cast("double")), Sql(
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin)),

    // ---- north-star extensions over the reference tables: sessionize
    // (batch and streaming), sampling, sketches, as-of / salted / range
    // joins ----
    // batch gap-sessionization as window algebra (the relational twin of
    // the streaming flatMapGroupsWithState sessionizer)
    Entry("x25_sessionize_batch", (s, d) =>
      Sessionize.sessionizeBatch(ev(s, d), "user_id", "ts", "value",
        gapMinutes = 30), Sql(
      """WITH f AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS session_no
        |  FROM f)
        |SELECT user_id, session_no, count(*) AS n_events,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS duration_min,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM s GROUP BY 1, 2""".stripMargin)),
    // STREAMING sessionize, harness-observable (round 5 — streaming was
    // spec-only before): the stateful flatMapGroupsWithState path run to
    // completion with Trigger.AvailableNow and hash-compared against a
    // SQL twin. Batch 0 ingests every event (fresh checkpoint →
    // watermark 0 drops nothing), then the no-data batch advances the
    // watermark to max(ts) - 10 min and fires the EventTimeTimeouts.
    // The emitted set is exactly deterministic: every non-final session
    // per user (gap-closed inside batch 0) plus each final session whose
    // timeout ms — ceil((last_µs + gap_µs)/1000), the sessionizer's own
    // rounding — lies strictly below the final watermark ms. The oracle
    // encodes that rule in SQL, so the state store, watermark arithmetic,
    // and timeout semantics are cross-engine-checked end-to-end. Values
    // ride as integer cents (the x25 idiom) so double sums are exact in
    // both engines.
    // Oracle:
    // streaming sessionize twin: x25's session algebra PLUS the exact
    // emission rule of the availableNow run — non-final sessions always
    // emit (gap-closed in batch 0); a user's final session emits iff its
    // timeout ms (ceil((last_µs + 30min)/1000), the sessionizer's own
    // +999 floorDiv) is strictly below the final watermark ms
    // (floor(max_µs/1000) - 10 min). Cross-checks watermark arithmetic
    // and EventTimeTimeout semantics, not just session algebra.
    Entry("x51_stream_sessionize", (s, d) => {
      import s.implicits._
      val name = "x51_stream_sessions"
      // the stream runs on a CLONED session (shared SparkContext, its
      // own SessionState) so the streaming-specific confs below never
      // leak into queries sharing the harness session — previously they
      // were set/restored on the global session, which was safe only
      // under a serial harness
      val ss = s.newSession()
      // unlike Tables.events (eager batch schema), the file-stream source
      // deserializes per micro-batch — the conf must outlive the query
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the state-op partition count is FIXED at query start (each
      // partition is a state store the commit phase must snapshot every
      // micro-batch); 8 stores amortize far better than 32 on this
      // 2-batch bounded run, and the checkpoint is fresh per call so no
      // restart compatibility is at stake. A long-lived production
      // stream sizes this to its key cardinality instead.
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val raw = Tables.parquet(ss, s"$d/events.parquet").schema
      // a file stream ingests a DIRECTORY (the landing-zone shape);
      // the single-file table is linked into a scratch dir to stand in
      // for one arrived batch of files
      val landing = sinkScratch("x51_landing")
      linkIntoLanding(landing, java.nio.file.Paths.get(d, "events.parquet"))
      // ts arrives either as a raw nanos long (legacy TIMESTAMP(NANOS)
      // layout, surfaced by the nanosAsLong conf above) or as
      // TIMESTAMP(MICROS) NTZ (current testdata) — normalize both to
      // TimestampType, mirroring Tables.eventsRaw for the batch side
      val tsNorm = raw("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast("timestamp")
      }
      val src = ss.readStream.schema(raw).parquet(landing)
        .withColumn("ts", tsNorm)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"),
          round(col("value") * 100, 0).as("value"))
        .as[graft.streaming.EventStream.SessionIn]
      val q = graft.streaming.EventStream.sessionize(ss, src)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", sinkScratch("x51"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the oracle's watermark arithmetic assumes EVERY event lands in
      // micro-batch 0 (a later data batch would see an advanced
      // watermark: below-watermark rows dropped, gap closure changed —
      // a data-dependent divergence from the SQL twin). Fail loudly if
      // the source ever splits the landing dir across data batches.
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"x51 oracle parity requires exactly one data micro-batch, got " +
          s"$dataBatches — landing-dir batching changed?")
      // memory-sink temp view lives in the CLONE's catalog; drain it to
      // scratch + drop so bench reps don't accumulate sink copies
      drainMemorySink(s, ss, name,
        ss.table(name).select(col("user_id"), col("n_events"),
          col("duration_min"), (col("total_value") / 100.0).as("total_value")))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |f AS (
        |  SELECT user_id, ts, cents,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, cents,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM f),
        |g AS (
        |  SELECT user_id, session_no,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS duration_min,
        |         sum(cents) / 100.0 AS total_value,
        |         max(ts) AS last_ts,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY session_no DESC) AS rn
        |  FROM s GROUP BY 1, 2),
        |wm AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM e)
        |SELECT user_id, n_events, duration_min, total_value
        |FROM g, wm
        |WHERE rn > 1
        |   OR (epoch_us(last_ts) + 1800000000 + 999) // 1000 < wm_ms""".stripMargin)),
    // STREAMING curation under the oracle (x51's pattern applied to the
    // CorpusStream path): the real redact→gate→watermarked-dedup stream
    // (stateful dropDuplicatesWithinWatermark) run to completion with
    // AvailableNow over a landing dir of documents-with-PII. WHICH
    // arrival survives a duplicate fingerprint is state-arrival-order
    // dependent (partition-race), so the harness-visible result is the
    // FINGERPRINT SET — invariant under arrival order, and exactly the
    // distinct-fingerprint set of the gated corpus, which the SQL twin
    // rebuilds from the x41 gate CTEs. Event time is synthesized from
    // doc_id (documents carry none); with one data batch the watermark
    // drops nothing and only evicts state in the final no-data batch —
    // pinned by the same single-batch assert as x51.
    // Oracle:
    // the streamed curation's emitted set == distinct fingerprints of
    // the gated PII-redacted corpus (Shared.corpusSignalCtes, the p/e/g
    // prefix of x41's chain, minus the eval-split exclusion and
    // decontamination — x52 streams the WHOLE corpus through
    // redact→gate→dedup)
    Entry("x52_stream_curation", (s, d) => {
      import s.implicits._
      val name = "x52_stream_fingerprints"
      val ss = s.newSession()
      // 8 state stores, same sizing rationale as x51
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val raw = Tables.parquet(ss, s"$d/documents.parquet").schema
      val landing = sinkScratch("x52_landing")
      linkIntoLanding(landing, java.nio.file.Paths.get(d, "documents.parquet"))
      // synthetic event time BOUNDED to one day: ts only orders state
      // eviction (the result is the ts-independent fingerprint set), and
      // an unbounded `base + doc_id` overflows timestamp_seconds'
      // internal ×1e6 on 63-bit avalanche ids (caught by the first
      // full-table ScaleGenV2 smoke — shipped ids are small)
      val src = ss.readStream.schema(raw).parquet(landing)
        .select(col("doc_id"), piiText)
        .select(col("doc_id"),
          timestamp_seconds(lit(1704067200L) + pmod(col("doc_id"), lit(86400L)))
            .as("ts"),
          col("text"))
      val q = graft.streaming.CorpusStream.curate(src, lateness = "1 hour")
        .select("fingerprint")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", sinkScratch("x52"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"x52 oracle parity requires exactly one data micro-batch, got " +
          s"$dataBatches — landing-dir batching changed?")
      drainMemorySink(s, ss, name, ss.table(name).select("fingerprint"))
    }, Sql(
      s"""WITH $corpusSignalCtes
        |SELECT DISTINCT fingerprint FROM g
        |WHERE $corpusGateSql""".stripMargin)),
    // Spark 4 variant shredding: schema-flexible parse_json +
    // variant_get — the modern path for payloads whose schema drifts
    Entry("q38_variant_shred", (s, d) =>
      ev(s, d).select(
        col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k")), Sql(
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) AS k
        |FROM events""".stripMargin)),
    // deterministic class-rebalancing sample: keep all errors/signups,
    // 10% of clicks, 5% of everything else — arithmetic-hash keyed so
    // the oracle reproduces the exact row set
    Entry("x24_stratified_sample", (s, d) =>
      Sampling.stratifiedSample(ev(s, d), "event_type", "event_id",
          rates = Map("error" -> 100, "signup" -> 100, "click" -> 10),
          defaultRate = 5)
        .groupBy("event_type").agg(count(lit(1)).as("n_kept")), Sql(
      s"""SELECT event_type, count(*) AS n_kept FROM events
        |WHERE ${hashBucketSql("event_id", 100)} <
        |      CASE event_type WHEN 'error' THEN 100 WHEN 'signup' THEN 100
        |                      WHEN 'click' THEN 10 ELSE 5 END
        |GROUP BY event_type""".stripMargin)),

    // filter-only scan revenue (predicate pushdown showcase): all three
    // predicates reach the parquet reader, sum in exact decimal
    Entry("q24_filter_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue")), Sql(
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // semi join: customers with at least one open order (EXISTS)
    Entry("q25_semi_join", (s, d) => {
      val open = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      Tables.customer(s, d)
        .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }, Sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin)),

    // exact distinct counting per group (COUNT(DISTINCT))
    Entry("q26_distinct_users", (s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events")), Sql(
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin)),

    // HLL++ approximate distinct vs exact — the sketch-based scale path.
    // The sketch VALUE differs across engines, so the invariant is
    // enforced in-plan instead: approx_ok = |approx-exact| ≤ 5%·exact,
    // and the oracle expects literal TRUE — if the sketch ever drifts,
    // the hash compare fails loudly rather than hiding behind rows-only
    Entry("x19_approx_distinct", (s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"),
          approx_count_distinct("user_id", 0.02).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.05).as("approx_ok")), Sql(
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin)),

    // sketch-quantile gate: approx_percentile (the KLL-style 100 TB
    // quantile path) must land within the exact p5/p95 neighborhood —
    // in-plan invariant, literal-TRUE oracle (same pattern as x19/x27)
    Entry("x29_approx_percentile", (s, d) =>
      ev(s, d).filter(col("value").isNotNull)
        .agg(
          expr("percentile(value, 0.05)").as("__p5"),
          expr("percentile(value, 0.95)").as("__p95"),
          expr("approx_percentile(value, 0.05, 1000)").as("__a5"),
          expr("approx_percentile(value, 0.95, 1000)").as("__a95"),
          count(lit(1)).as("n"))
        .select(col("n"),
          (abs(col("__a5") - col("__p5")) <=
            (col("__p95") - col("__p5")) * 0.02).as("p5_ok"),
          (abs(col("__a95") - col("__p95")) <=
            (col("__p95") - col("__p5")) * 0.02).as("p95_ok")), Sql(
      """SELECT count(*) AS n, TRUE AS p5_ok, TRUE AS p95_ok
        |FROM events WHERE value IS NOT NULL""".stripMargin)),

    // rollup over the pricing keys — multi-level aggregate in one pass
    Entry("q23_rollup_counts", (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty")), Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // cube: all grouping-set combinations in one pass
    Entry("q39_cube_counts", (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n")), Sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // window-function surface beyond row_number: lag/lead deltas, dense
    // rank, quartile bucket — per-user event analytics
    Entry("q40_window_analytics", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val byValue = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      ev(s, d).filter(col("value").isNotNull).select(
        col("event_id"), col("user_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
          .as("us_since_prev"),
        lead(col("event_id"), 1).over(byUser).as("next_event_id"),
        dense_rank().over(byValue).as("value_rank"),
        ntile(4).over(byValue).as("value_quartile"))
    }, Sql(
      """SELECT event_id, user_id,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS us_since_prev,
        |       lead(event_id, 1) OVER w AS next_event_id,
        |       CAST(dense_rank() OVER v AS INT) AS value_rank,
        |       CAST(ntile(4) OVER v AS INT) AS value_quartile
        |FROM events WHERE value IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       v AS (PARTITION BY user_id ORDER BY value DESC, event_id)""".stripMargin)),

    // pivot: one column per status, reference's wide-mart shape
    Entry("q41_status_pivot", (s, d) =>
      Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
          col("o_orderstatus"))
        .groupBy("order_month")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        // empty pivot cells are NULL in Spark but 0 under a FILTER count
        .select(col("order_month"), coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_filled"),
          coalesce(col("P"), lit(0L)).as("n_pending")), Sql(
      """SELECT date_trunc('month', o_orderdate)::DATE AS order_month,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        |FROM orders GROUP BY 1""".stripMargin)),

    // grouped exact interpolated percentiles (A1 lifted to per-group)
    Entry("q42_grouped_percentiles", (s, d) =>
      ev(s, d).filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          count(lit(1)).as("n")), Sql(
      """SELECT event_type,
        |       percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p50,
        |       percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95,
        |       count(*) AS n
        |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin)),

    // as-of join: each error event enriched with the user's most recent
    // prior signup (composed union+window as-of; oracle = DuckDB ASOF
    // JOIN). The tiebreak pins OUR side on duplicate (user, ts) signups;
    // DuckDB's ASOF tie choice is unspecified, so if a fixture ever
    // grows such ties this becomes a known compare hazard (none exist
    // today — verified)
    Entry("x14_asof_join", (s, d) => {
      val events = ev(s, d)
      val errors = events.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val signups = events.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
      AsofJoin.asofBackward(errors, signups, Seq("user_id"),
          "ts", "ts", Seq("signup_event_id"), suffix = "",
          rightTieBreak = Seq("signup_event_id"))
        .select(col("event_id"), col("user_id"), col("signup_event_id"))
    }, Sql(
      """WITH err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |sg AS (
        |  SELECT user_id, ts, event_id AS signup_event_id FROM events
        |  WHERE event_type = 'signup')
        |SELECT err.event_id, err.user_id, sg.signup_event_id
        |FROM err ASOF LEFT JOIN sg
        |  ON err.user_id = sg.user_id AND err.ts >= sg.ts""".stripMargin)),

    // skew-resistant two-phase aggregate (same result as a plain groupBy)
    Entry("x15_salted_daily", (s, d) =>
      Skew.saltedAvg(
        ev(s, d).select(to_date(col("ts")).as("day"), col("value")),
        Seq("day"), "value", exactCents = true), Sql(
      """SELECT ts::DATE AS day, count(*) AS n,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total,
        |       floor(sum(CAST(round(value * 100) AS BIGINT)) / count(value) + 0.5)
        |         / 100.0 AS avg_value
        |FROM events GROUP BY 1""".stripMargin)),

    // banded range join (no cross join): parts within ±5.0 retail price
    Entry("x16_range_join", (s, d) =>
      RangeJoin.rangeMatchCounts(Tables.part(s, d), "p_partkey", "p_retailprice", 5.0), Sql(
      """SELECT a.p_partkey, a.p_retailprice,
        |       count(b.p_partkey) AS n_within
        |FROM part a LEFT JOIN part b
        |  ON b.p_partkey <> a.p_partkey
        | AND b.p_retailprice BETWEEN a.p_retailprice - 5.0
        |                         AND a.p_retailprice + 5.0
        |GROUP BY a.p_partkey, a.p_retailprice""".stripMargin))
  )
}
