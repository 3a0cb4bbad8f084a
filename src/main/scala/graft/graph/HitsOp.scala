package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg 1999) hubs & authorities over the co-occurrence graph —
  * the companion centrality to PageRank (SURVEY.md §2.8 G3): a vertex is a
  * good AUTHORITY when good hubs point at it, a good HUB when it points at
  * good authorities. On the part co-occurrence graph this separates
  * "parts that anchor many baskets" (authorities) from "parts that appear
  * alongside anchors" (hubs) — the two roles PageRank's single score
  * conflates.
  *
  * Power iteration WITHOUT per-round normalization: a_i = Aᵀ·h_{i−1},
  * h_i = A·a_i. Scaling is applied once at the end (Σ = vertex count, the
  * PageRank/GraphFrames normalization precedent) — power iteration is
  * scale-invariant, so skipping the per-round norm changes nothing about
  * the final direction while removing ten scalar-aggregate barriers from
  * the DAG (and ten scalar subqueries from the DuckDB oracle). Ten rounds
  * of an unnormalized double stays ≤ ~(max degree)^20 ≪ 1e308, far from
  * overflow at any plausible degree.
  *
  * Scale shape (on the shared [[Fixpoint]] helpers — HITS keeps its own
  * loop because it carries two
  * states and pins only one mid-run): the edge list is
  * cached and reused by all 2·numIter joins; the score state broadcasts
  * while it fits the [[Fixpoint]] byte budget (state tables behind
  * localCheckpoints have unknown stats, so Catalyst alone would shuffle
  * every round) and falls back to shuffle joins beyond it; lineage is
  * truncated every other round — per-round pinning doubles materialization
  * cost for no analyzer relief at a 4-join nesting depth.
  */
object HitsOp {

  /** numIter HITS rounds over `edges` (src, dst; multi-edges weight the
    * walk like PageRank's). Returns the top-k by authority:
    * (rank, id, authority, hub_score), both scores normalized to sum to
    * the vertex count and rounded to 6 decimals. */
  def hits(edges0: DataFrame, numIter: Int = 10, k: Int = 100): DataFrame = {
    val edges = edges0.select(col("src"), col("dst")).cache()
    // one pass over the pinned edges yields every endpoint exactly once
    val init = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), lit(1.0).as("val"))
      .pinTier
    val nVerts = init.count()
    val stateParts = Fixpoint.stateParts(init, nVerts)
    val verts = init.select(col("id"))
    val maybeBcast = Fixpoint.broadcaster(init, nVerts, "hits")

    // one half-step: scores flow across the edges from `from` to `to`
    // (auth step: from=src, to=dst; hub step: the reverse). The state a
    // half-step consumes carries only vertices with nonzero flow (r16):
    // a vertex the previous half-step gave 0.0 contributes exactly
    // nothing to this step's sums (x + 0.0 ≡ x in IEEE for the
    // nonnegative scores here), so the INNER join drops those rows
    // instead of a per-half-step verts completion join filling them
    // back in with zeros — 20 vertex-sized joins (and their broadcasts)
    // removed from a 10-round run; the zero-fill happens ONCE in the
    // final projection. Sums are bit-for-bit the old recurrence's.
    def halfStep(state: DataFrame, from: String, to: String): DataFrame =
      edges.join(maybeBcast(state.withColumnRenamed("id", from)), Seq(from))
        .groupBy(col(to).as("id"))
        .agg(sum(col("val")).as("val"))

    var hub = init
    var auth: DataFrame = init
    for (i <- 1 to numIter) {
      auth = halfStep(hub, "src", "dst")
      hub = halfStep(auth, "dst", "src")
      // only the HUB state needs truncation mid-run (auth is consumed by
      // the very next half-step inside the same lineage window); auth is
      // pinned once at the end for its two final readers (sum + join)
      if (Fixpoint.pinRound(i, 2, numIter)) hub = hub.coalesce(stateParts).pinTier
      if (i == numIter) auth = auth.coalesce(stateParts).pinTier
    }
    edges.unpersist(blocking = false)
    val aScale = Fixpoint.sumToN(auth, "val", nVerts)
    val hScale = Fixpoint.sumToN(hub, "val", nVerts)
    // the deferred zero-fill: vertices that dropped out of either flow
    // state read 0.0 here, exactly what the per-round completion used to
    // materialize ten times
    val top = verts
      .join(maybeBcast(auth), Seq("id"), "left")
      .join(maybeBcast(hub.withColumnRenamed("val", "hval")), Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("val"), lit(0.0)) * lit(aScale), 6).as("authority"),
        round(coalesce(col("hval"), lit(0.0)) * lit(hScale), 6).as("hub_score"))
      .orderBy(col("authority").desc, col("id"))
      .limit(k)
    // k-row input by construction — single-task global rank window
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("authority").desc, col("id"))).cast("bigint"))
      .select(col("rank"), col("id"), col("authority"), col("hub_score"))
  }
}
