package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink operators mapping the reference's write semantics onto parquet.
  *
  * Reference → Spark (SURVEY.md §2.1):
  *  - K1 truncate-and-reload (`TRUNCATE` + insert, e.g. `HW-3/airflow/
  *    dags/iot_temperature.py:44-46`) → `mode(Overwrite)` full refresh.
  *  - K3 insert-if-absent (`ON CONFLICT DO NOTHING`, `mongo_to_postgres_
  *    replication.py:57-64`) → anti-join against existing keys, then
  *    append.
  *  - K5 targeted window delete + rebuild (`HW-4/.../iot_temperature.py:
  *    160-161`) → DYNAMIC partition overwrite on a partitioned layout:
  *    only partitions present in the incoming frame are replaced; 100 TB
  *    of untouched history is neither read nor rewritten.
  *
  * Partitioning policy: partition columns must be low-cardinality
  * (day/month), never high-cardinality keys — each partition should hold
  * file-sized data at the target scale.
  */
object Sinks {

  /** K1: idempotent full refresh. */
  def truncateReload(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** K1 + partition routing: full refresh of a day/month-partitioned
    * layout (the final module's monthly range partitioning,
    * `final-module-3/init/init.sql:91-136`).
    */
  def partitionedReload(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** K5/K4: replace ONLY the partitions present in `window` (the
    * incremental recompute), leaving older partitions untouched.
    */
  def overwriteWindow(window: DataFrame, path: String, partitionCol: String): Unit =
    window.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** K4: full-row keyed upsert into a parquet target (`ON CONFLICT DO
    * UPDATE`): incoming wins, existing survives where unclaimed
    * (`Incremental.upsertByKey`). Duplicate-keyed rows WITHIN one
    * incoming batch collapse to a single winner first (which one is
    * arbitrary, as in any unordered set engine — pre-aggregate upstream
    * for a deterministic choice), so the target keeps the one-row-per-key
    * contract.
    *
    * Durability: the merge writes to a STAGING directory (so the target
    * can be read while merging — no lineage pinning needed) and swaps in
    * via renames, with the old data held in a backup dir until the swap
    * lands. A crash mid-swap leaves backup + staging intact; the next
    * call refuses to bootstrap-over them instead of silently truncating
    * history. (A real lakehouse would use a transactional table format;
    * this keeps the same read-modify-write semantics on plain parquet.)
    *
    * The target is read through `graft.Tables.parquet`: its schema comes
    * from one footer on the driver, so the read starts no schema job.
    */
  def upsertReload(incoming: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = incoming.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(path + "__staging")
    val backup = new org.apache.hadoop.fs.Path(path + "__backup")
    // Two distinct crash states leave a backup behind:
    //  - target MISSING: the swap died between the two renames — the
    //    backup is the only copy; rename it back over the target.
    //  - target PRESENT: both renames landed and only the backup delete
    //    was lost — the target is the MERGED data; verify and delete the
    //    backup (renaming it back would restore stale pre-merge data,
    //    and the rename would fail against the existing target anyway).
    require(!fs.exists(backup),
      if (fs.exists(p))
        s"$backup exists alongside the target — a prior swap COMPLETED " +
          "but its backup cleanup was lost; verify the target and delete " +
          "the backup before upserting again"
      else
        s"$backup exists and the target is missing — a prior swap died " +
          "mid-rename; rename the backup back over the target before " +
          "upserting again")
    val batch = incoming.dropDuplicates(keys)
    if (!fs.exists(p)) return truncateReload(batch, path)
    graft.ops.Incremental
      .upsertByKey(graft.Tables.parquet(spark, path), batch, keys)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    require(fs.rename(p, backup), s"could not move $p aside")
    require(fs.rename(staging, p), s"could not land $staging at $p")
    fs.delete(backup, true)
  }

  /** K3: append only rows whose key is absent from the existing data.
    * Bootstraps ONLY when the target genuinely does not exist — any
    * other read failure (corrupt footer, permissions, transient FS
    * error) propagates instead of silently overwriting history.
    *
    * The target's keys are read through `graft.Tables.parquet` (schema
    * from one footer, no schema job) and are NOT de-duplicated: a
    * left-anti join never multiplies its left rows, so a key the target
    * holds twice still excludes its incoming rows exactly once, and a
    * `distinct()` would only add a shuffle stage.
    */
  def appendIfAbsent(incoming: DataFrame, existingPath: String,
                     keys: Seq[String]): Unit = {
    val spark = incoming.sparkSession
    val path = new org.apache.hadoop.fs.Path(existingPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return truncateReload(incoming, existingPath)
    val existing = graft.Tables.parquet(spark, existingPath)
      .select(keys.map(col): _*)
    incoming.join(existing, keys, "left_anti")
      .write.mode(SaveMode.Append).parquet(existingPath)
  }
}
