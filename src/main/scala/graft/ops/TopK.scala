package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sort / limit / top-K operators — SURVEY.md §2.5 (O1–O5, A2).
  *
  * `orderBy(...).limit(k)` is the load-bearing pattern: Catalyst plans it as
  * `TakeOrderedAndProjectExec` — each task keeps a k-row heap, the driver
  * merges task winners — so no global sort and no full shuffle ever happens.
  * That is precisely the optimization the reference hand-rolled and commented
  * on (`PageRank_Spark_v5.py:105-115`); here it falls out of the declarative
  * plan. At 100 TB a global sort of the corpus is infeasible; a per-partition
  * heap of k rows is trivial.
  *
  * All orderings carry a unique tiebreaker so the result set is deterministic
  * under ties (needed for the oracle hash compare; a good habit generally).
  */
object TopK {

  /** Hard ceiling on any user-supplied k: a k-row result is collected to the
    * driver by the serve layer and by [[Joins.enrichWithPrunedDim]]. */
  val MaxK = 1000

  def clampK(k: Int): Int = math.max(1, math.min(k, MaxK))

  /** A2/O1 — top-K by attribute (`guiV5.py:526-537`: $sort views desc,
    * $limit K, $project). The GUI takes K from the user, so k is clamped
    * to [1, [[MaxK]]]. */
  def topOrdersByPrice(orders: DataFrame, k: Int): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(clampK(k))

  /** O2 — report ordering: sort desc + limit over an aggregate
    * (`YoutubeNetworkAgg_Final.py:176,282-284`). */
  def topCustomersBySpend(orders: DataFrame, k: Int): DataFrame =
    orders
      .groupBy(col("o_custkey"))
      .agg(Aggregations.dsum(col("o_totalprice")).as("total_spend"),
        count(lit(1)).as("num_orders"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(k)

  /** O5 — seeded sample before expensive downstream work
    * (`run_alsrecs_job.py:55`, fraction 0.10 seed 42). Sampling is evaluated
    * in the scan stage — no shuffle; rows never sampled are never decoded
    * past the row-group level. Not oracle-comparable (engine-specific RNG
    * stream), so verified by invariants instead. */
  def sampledLineitems(lineitem: DataFrame, fraction: Double = 0.10, seed: Long = 42L): DataFrame =
    lineitem.sample(withReplacement = false, fraction, seed)
}
