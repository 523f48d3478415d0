package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting (builder brief: "salting for skew").
  *
  * AQE's skew-join splitting handles most skew at runtime, but it only
  * splits sort-merge join partitions; salting is the explicit,
  * plan-level tool when one key dominates so hard that even a split
  * partition exceeds executor memory, or when the join is not SMJ.
  *
  * Shape: the skewed (large) side gets a deterministic salt in
  * [0, saltFactor); the small side is replicated saltFactor times; the
  * join key becomes (key, salt), spreading each hot key over
  * saltFactor reducers. Replication cost = |small side| × saltFactor —
  * choose saltFactor ≈ hottest-key-rows / target-partition-rows.
  *
  * The salt must be deterministic (oracle/replay stability): derived by
  * hashing the large side's payload columns, NOT rand() — identical
  * rows share a salt, which is acceptable (exact duplicate rows of a
  * hot key are rare relative to distinct payloads).
  */
object SaltedJoin {

  /** Inner equi-join of `large` (skewed) with `small` on `key`, salted
    * `saltFactor` ways. Result equals `large.join(small, key)` exactly. */
  def inner(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    val payload = large.columns.filterNot(_ == key).map(col)
    val salted = large.withColumn("__salt",
      pmod(hash(payload: _*), lit(saltFactor)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The salted aggregation twin: two-phase groupBy where a hot group
    * key is first aggregated per (key, salt), then re-aggregated per
    * key. For algebraic aggregates Spark's own partial aggregation
    * already does this; the explicit form exists for aggregates whose
    * partial state is itself the skew problem (e.g. exact distinct
    * counts per hot key). */
  def saltedDistinctCount(df: DataFrame, key: String, valueCol: String,
      saltFactor: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(col(valueCol)), lit(saltFactor)))
    salted.groupBy(col(key), col("__salt"))
      .agg(countDistinct(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as(s"n_distinct_$valueCol"))
  }
}
