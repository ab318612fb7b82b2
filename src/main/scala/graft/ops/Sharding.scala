package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic shuffle-shard export — the last step of a training-
  * data pipeline: give every example a pseudo-random but REPRODUCIBLE
  * position in a fixed set of shards, so the training loader streams
  * shards sequentially yet sees data decorrelated from ingest order
  * (the shuffle a data loader would otherwise need RAM for), and any
  * re-export of the same corpus bit-reproduces the same shard layout.
  *
  * Spark shape = the write path it models: ONE shuffle on the shard
  * key plus a per-shard sort — exactly `repartition(shard)` +
  * `sortWithinPartitions` feeding a partitioned writer. The spread key
  * is the same Knuth multiplicative family as [[Sampling.hashBucket]]
  * (exact integer arithmetic, so the SQL oracle replays it verbatim —
  * no engine-murmur dependence), taken modulo a LARGE prime so shard
  * assignment (`key mod nShards`) and within-shard order (`key`) stay
  * decorrelated from the source id order. At 100 TB the knob is
  * nShards ∝ corpus (shards stay loader-sized); the window is
  * per-shard and the sort is the shuffle's own sort — no global
  * ordering bottleneck.
  */
object Sharding {

  /** The prime the spread key is taken modulo. */
  private[graft] val spreadBuckets = 999999937

  /** Pseudo-random spread key in [0, [[spreadBuckets]]) — TOTAL over
    * all Long ids, negatives included: [[Sampling.hashBucket]] at a
    * large prime, so any sign-preserving-`%` engine replays it exactly
    * AND the key is non-negative — which keeps the downstream
    * `__k % nShards` shard assignment inside the [0, nShards) contract
    * for every id.
    */
  def spreadKey(id: Column): Column = Sampling.hashBucket(id, spreadBuckets)

  /** One row per input row: (idCol, shard, pos) where `pos` is the
    * 1-based position of the row inside its shard's deterministic
    * shuffle order.
    */
  def shuffleShard(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val keyed = df.select(col(idCol), spreadKey(col(idCol)).as("__k"))
      .withColumn("shard", (col("__k") % lit(nShards.toLong)).cast("int"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__k").asc, col(idCol).asc))
        .cast("long"))
      .select(idCol, "shard", "pos")
  }
}
