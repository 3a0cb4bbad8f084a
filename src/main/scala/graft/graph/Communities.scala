package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007), DETERMINISTIC fixed-round variant: every vertex starts as its
  * own label; each round every vertex adopts the most frequent label among
  * its neighbors, ties broken toward the SMALLEST label. Classic LPA
  * breaks ties randomly and updates asynchronously — reproducible results
  * across engines need the synchronous sweep and the total tie order, and
  * the fixed round count is part of the contract (the k-core/PageRank
  * precedent) so the DuckDB oracle can unroll the identical sweeps.
  *
  * Community quality matches what sync LPA gives (label oscillation on
  * bipartite-ish regions is damped by the min-label tie-break, not
  * eliminated — a documented property of the synchronous variant, and
  * why the round count stays small).
  *
  * Scale shape: each round is one adjacency⋈labels equi-join (labels
  * broadcast under the [[Fixpoint]] budget), one
  * (vertex, label)-count hash aggregate — map-side combined — and one
  * per-vertex argmax as a max(struct) aggregate, NOT a row_number window
  * (the window would sort vertex-cardinality data per round; the struct
  * max rides the same hash aggregate). Labels pinned every other round
  * ([[Fixpoint.iterate]]; no convergence exit — LPA state can oscillate).
  */
object Communities {

  /** Shared LPA internals: (final labels (id, label), pinned undirected
    * simple edge set, broadcast-or-not wrapper honoring the
    * [[Fixpoint]] budget) — one tier build feeding both the
    * membership report ([[labelPropagation]]) and the quality score
    * ([[modularityReport]]). */
  private[graph] def lpaState(edges: DataFrame, rounds: Int)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val und = Triangles.undirect(edges).pinTier
    val adj = und.select(col("a").as("id"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("id"), col("a").as("nbr")))
      .repartition(edges.sparkSession.sparkContext.defaultParallelism, col("id"))
      .pinTier
    val verts = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct().pinTier
    val nVerts = verts.count()
    val mb = Fixpoint.broadcaster(verts, nVerts, "lpa")
    val labels = Fixpoint.iterate(verts.select(col("id"), col("id").as("label")),
        rounds, 2, _.pinTier) { (l, _) =>
      adj
        .join(mb(l.select(col("id").as("nbr"), col("label"))), Seq("nbr"))
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        // argmax with a total order: max over (cnt, −label) picks the most
        // frequent label, smallest label on ties — one aggregate, no window
        .groupBy(col("id"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("label"))
    }
    (labels, und, mb)
  }

  /** `rounds` synchronous LPA sweeps over the undirected simple graph of
    * `edges`. Returns every vertex with its final community label plus
    * the member count of that community, ordered by id. */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val (labels, _, mb) = lpaState(edges, rounds)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    labels
      .join(mb(sizes), Seq("label"))
      .select(col("id"), col("label").as("community"), col("community_size"))
      .orderBy(col("id"))
  }

  /** Newman modularity of the LPA partition — the standard
    * partition-quality score `Q = Σ_c [ m_c/m − (d_c/(2m))² ]` over the
    * undirected simple graph (m edges, m_c intra-community edges, d_c
    * community degree sum). Q rewrites to
    * `M_intra/m − D2/(4m²)` with `M_intra = Σ m_c` and `D2 = Σ d_c²` —
    * both INTEGER aggregates, so the only float arithmetic is one final
    * exact-IEEE expression over integer-derived doubles and the score is
    * engine-portable without any float-sum-order caveat (the DuckDB
    * oracle re-derives the labels via the same unrolled sweeps, then the
    * same two integer sums). Output: ONE row
    * (n_vertices, n_edges, n_communities, intra_edges, degree_sq_sum,
    * modularity) — the q_assortativity single-row-global shape.
    *
    * Scale shape: on top of the LPA sweeps, two label joins on the
    * pinned edge set (labels broadcast under the budget), one degree
    * aggregate, one community aggregate, one-row fold — no window, no
    * new shuffle class. */
  def modularityReport(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val (labels, und, mb) = lpaState(edges, rounds)
    val la = labels.select(col("id").as("a"), col("label").as("ca"))
    val lb = labels.select(col("id").as("b"), col("label").as("cb"))
    // intra-community edge count per label — integer
    val intra = und.join(mb(la), Seq("a")).join(mb(lb), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("label")).agg(count(lit(1)).as("m_c"))
    // community degree sums over the same simple graph — integer
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val comm = deg.join(mb(labels), Seq("id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_v"), sum(col("degree")).as("d_c"))
      .join(mb(intra), Seq("label"), "left")
      .select(col("label"), col("n_v"),
        coalesce(col("m_c"), lit(0L)).as("m_c"),
        col("d_c"))
    val totals = comm.agg(
      sum(col("n_v")).as("n_vertices"),
      count(lit(1)).as("n_communities"),
      sum(col("m_c")).as("intra_edges"),
      sum(col("d_c") * col("d_c")).as("degree_sq_sum"))
    val m = und.agg(count(lit(1)).as("n_edges"))
    totals.crossJoin(broadcast(m))
      .select(col("n_vertices"), col("n_edges"), col("n_communities"),
        col("intra_edges"), col("degree_sq_sum"),
        round(col("intra_edges").cast("double") / col("n_edges")
          - col("degree_sq_sum").cast("double")
            / (lit(4.0) * col("n_edges") * col("n_edges")), 6)
          .as("modularity"))
  }
}
