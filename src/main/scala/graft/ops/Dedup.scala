package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication and insert-if-absent semantics.
  *
  * Reference:
  *  - keep-first dedup A7/S6: Mongo `$group {_id:key, doc:{$first:"$$ROOT"}}`
  *    (`final-module-3/airflow/dags/mongo_to_postgres_replication.py:35-39`).
  *    Mongo's `$first` is arrival-order — we make it deterministic with an
  *    explicit tiebreak ordering (SURVEY.md §7.4 trap 3).
  *  - insert-if-absent K3: `INSERT ... ON CONFLICT (pk) DO NOTHING`
  *    (`mongo_to_postgres_replication.py:57-64`) ≡ left anti join against
  *    the existing keys.
  *
  * Scale design: both are single hash-shuffles on the dedup key. The window
  * variant partitions by the key, so parallelism = key cardinality (high);
  * the anti join is a standard shuffled hash/sort-merge join that AQE can
  * convert to broadcast when `existing` is small.
  */
object Dedup {

  /** Deterministic keep-first: one row per `keys`, first under `order`. */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    Top1PerGroup.keepFirst(df, keys.map(col), order)

  /** Rows of `incoming` whose `keys` do not appear in `existing` (K3).
    * A left-anti join never multiplies its left rows, so a key that
    * `existing` holds twice excludes its match once: no `distinct()`
    * (and no aggregate stage) is needed on the existing side.
    */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Exact content dedup by normalized-text hash: groups identical texts,
    * keeps the minimum id as the canonical representative (north-star
    * "exact dedup" extension; BASELINE.json).
    * Output: text_hash, keeper_id, n_copies.
    */
  def exactTextDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(lower(trim(col(textCol)))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
}
