package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Join operators — SURVEY.md §2.3 (J1–J3, S9).
  *
  * Join-strategy policy for 100 TB: dimension tables (part, supplier,
  * customer, nation, region — and any top-K result) are broadcast so the fact
  * scan never shuffles; only fact-to-fact joins (the co-occurrence self-join
  * in graph.Edges) shuffle, and those shuffle on their join key so AQE can
  * split skewed partitions. The reference's driver-side `find_one` loop
  * (`run_pagerank_job.py:124-140`) — K network round-trips — becomes one
  * pruned dim scan joined on the driver ([[enrichWithPrunedDim]]).
  */
object Joins {

  /** J2 — dimension-lookup star join (`run_alsrecs_job.py:138-139`): fact
    * lineitem joined to two dims, then aggregated. Both dims fit in a
    * broadcast at any realistic scale (part/supplier grow ~linearly but stay
    * 1000× smaller than lineitem; at true 100 TB part may exceed the
    * broadcast threshold and Catalyst falls back to shuffled hash join on its
    * own — the hint is advisory). */
  def brandRevenue(lineitem: DataFrame, part: DataFrame, supplier: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), lineitem("l_partkey") === part("p_partkey"))
      .join(broadcast(supplier), lineitem("l_suppkey") === supplier("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("num_items"),
        Aggregations.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("p_brand"))

  /** Enrich a k-row result with an unbounded dimension, reading at most the
    * dim rows that match its keys. Two Spark jobs, no exchange:
    *   1. collect `small` once — its plan, often an expensive upstream like
    *      a PageRank fixpoint, runs exactly once;
    *   2. push its distinct non-null keys into the dim scan as an `isin`
    *      filter and collect the pruned dim rows;
    *   3. left-join the two on the driver.
    * Driver memory is O(k), the bound the broadcast joins this replaced
    * also needed; the dim table itself is only ever scanned. The result is
    * a local frame with the USING-join column order (key, `small`'s other
    * columns, then the dim's, nullable) in `small`'s row order. As in SQL,
    * null keys never match and several dim rows per key multiply the row.
    * Key types must match exactly: there is no implicit widening. */
  def enrichWithPrunedDim(small: DataFrame, dim: DataFrame, key: String): DataFrame = {
    val (kt, dt) = (small.schema(key).dataType, dim.schema(key).dataType)
    require(kt == dt, s"enrichment key `$key`: $kt on the k-row side, $dt on the dim")
    // binary keys collect as arrays, whose equality is by reference
    def norm(v: Any): Any = v match { case b: Array[Byte] => b.toSeq; case x => x }
    val ki = small.schema.fieldIndex(key)
    val rest = small.schema.fields.indices.filterNot(_ == ki)
    val dimRest = dim.columns.filterNot(_ == key)
    val rows = small.collect()
    val keys = rows.iterator.map(_.get(ki)).filter(_ != null).toSeq.distinctBy(norm)
    val matches: Map[Any, Seq[Seq[Any]]] =
      if (keys.isEmpty) Map.empty
      else dim.filter(col(key).isin(keys: _*)).select((key +: dimRest).map(col): _*)
        .collect().toSeq.groupMap(r => norm(r.get(0)))(_.toSeq.tail)
    val unmatched = Seq(Seq.fill(dimRest.length)(null))
    val joined = rows.toSeq.flatMap { r =>
      val left = r.get(ki) +: rest.map(r.get)
      matches.getOrElse(norm(r.get(ki)), unmatched).map(d => Row.fromSeq(left ++ d))
    }
    val schema = StructType((small.schema(key) +: rest.map(small.schema.fields(_))) ++
      dimRest.map(c => dim.schema(c).copy(nullable = true)))
    small.sparkSession.createDataFrame(joined.asJava, schema)
  }

  /** Anti join — entities with no matching facts (customers with no order
    * in a given year). Catalyst plans left_anti as a broadcast/shuffled hash join
    * with early-out probing: the fact side is only ever hashed on its join
    * key projection, never materialized wide. The reference has no semi/anti
    * joins (SURVEY.md §2.3); a data pipeline needs them constantly
    * (orphan detection, holdout construction). */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame, inYear: Int): DataFrame =
    customer
      .join(orders.filter(year(col("o_orderdate")) === inYear)
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Semi join — entities with at least one qualifying fact (parts that ever
    * shipped in bulk). The filter is pushed below the join, so the fact scan
    * prunes to (l_partkey, l_quantity) and the semi join stops at first
    * match per key — no fact-side aggregation or distinct. */
  def partsWithBulkShipments(part: DataFrame, lineitem: DataFrame, minQty: Int): DataFrame =
    part
      .join(lineitem.filter(col("l_quantity") >= minQty)
          .select(col("l_partkey").as("p_partkey")),
        Seq("p_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .orderBy(col("p_partkey"))

  /** Set operations over keyed extracts (SURVEY.md §2.12: the reference has
    * none) — churn analysis: customers active in year A but gone in year B,
    * and the loyal intersection. EXCEPT/INTERSECT plan as aggregate-free
    * left-anti / left-semi joins over distinct keys — same scale shape as
    * the joins above. */
  def customerChurn(orders: DataFrame, yearA: Int, yearB: Int): DataFrame = {
    def active(y: Int) = orders
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val churned = active(yearA).except(active(yearB))
      .select(col("o_custkey"), lit("churned").as("cohort"))
    val retained = active(yearA).intersect(active(yearB))
      .select(col("o_custkey"), lit("retained").as("cohort"))
    churned.unionByName(retained).orderBy(col("cohort"), col("o_custkey"))
  }

  /** S9/J3 — point lookup: enrich a top-K result with dimension attributes
    * (replaces the reference's per-row `find_one` loop,
    * `PageRank_Spark_v5.py:148-156`). k is clamped to [1, [[TopK.MaxK]]]
    * because it bounds a driver collect; [[enrichWithPrunedDim]] reads at
    * most k customer rows no matter how large customer grows, and keeps the
    * top-K order, so no sort follows. */
  def enrichTopOrders(orders: DataFrame, customer: DataFrame, k: Int): DataFrame =
    enrichWithPrunedDim(TopK.topOrdersByPrice(orders, k),
      customer.select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment")),
      "o_custkey")
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("c_mktsegment"))
}
