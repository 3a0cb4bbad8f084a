package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the missing middle
  * of every dedup funnel: near-dup PAIRS (MinHash/SimHash/Jaccard output)
  * become dup CLUSTERS, and each cluster keeps one canonical document
  * (north-star scope; the reference has no dedup at all, SURVEY.md §2).
  *
  * Implementation is min-label propagation as a DataFrame fixpoint — the
  * execution shape of [[PageRankOp.pageRank]]'s rounds past the broadcast
  * budget: per round, every vertex
  * takes the minimum label among itself and its neighbors; converged when a
  * round changes nothing. Rounds needed = graph diameter, and near-dup
  * graphs are shallow (clusters are quasi-cliques — a handful of rounds);
  * each round is one equi-join + one hash aggregate, shuffling on the
  * vertex id, with the same eager-checkpoint lineage truncation as
  * PageRank. For billion-edge general graphs with long chains prefer the
  * large-star/small-star variant (fewer rounds); the per-round plan here is
  * identical, only the message rule changes.
  */
object Components {

  /** Label every vertex of the pair graph with its component's minimum
    * vertex id. Input: one row per undirected pair (a, b); output:
    * (id, component). Vertices outside any pair are absent — callers
    * coalesce(component, id) when joining back to the corpus.
    *
    * Barrier budget (the r4 driver lesson): the original loop ran ~4
    * driver-synchronized barriers per round — two label broadcasts, an
    * eager checkpoint and a 1-row convergence action — and under external
    * CPU contention every barrier stretches (75.6 s driver vs 4.4 s solo on
    * identical code, VERDICT r4). This shape cuts that to ~1 barrier per
    * round: a self-loop per vertex folds "min over self and neighbors" into
    * ONE join + ONE aggregate (no left-join back to the previous state, one
    * broadcast per round instead of two), rounds run two-at-a-time under a
    * single eager checkpoint, and convergence is the order-independent
    * [[Fixpoint.signature]] of (id, label) — the same detector the star
    * variant uses — checked once per two rounds. Labels only ever decrease,
    * so an unchanged signature means a fixed point (up to the same
    * negligible hash-collision odds the star variant already accepts). */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          maxIter: Int = 20): DataFrame = {
    // symmetrize once: each row contributes messages in both directions;
    // pinned eagerly so vertex derivation and the first round share it
    val sym = pairs.select(col(a).as("src"), col(b).as("dst"))
      .unionByName(pairs.select(col(b).as("src"), col(a).as("dst")))
      .distinct()
      .pinTier
    val verts = sym.select(col("src").as("id")).distinct()
    val nVerts = verts.count()
    // self-loops carry each vertex's own label through the neighbor-min
    // aggregate; pre-partitioned on dst so the per-round groupBy(dst)
    // reuses this exchange instead of shuffling every round
    val edges = sym
      .unionByName(verts.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst")).cache()
    // label state partitioned to the vertex count and broadcast while it
    // fits the budget: labels behind a localCheckpoint have unknown size
    // statistics, so Catalyst alone would shuffle-join every round
    val labelParts = Fixpoint.stateParts(sym, nVerts)
    def pin(l: DataFrame): DataFrame = l.coalesce(labelParts).pinTier
    val labels0 = pin(verts.withColumn("label", col("id")))
    val maybeBcast = Fixpoint.broadcaster(labels0, nVerts, "cc_minlabel")
    // an empty graph runs no rounds
    val labels = Fixpoint.iterate(labels0, if (nVerts == 0L) 0 else maxIter,
        2, pin, Seq("id", "label")) { (l, _) =>
      edges
        .join(maybeBcast(l.withColumnRenamed("id", "src")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("label"))
    }
    edges.unpersist(blocking = false)
    labels.select(col("id"), col("label").as("component"))
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * round-bounded alternative to [[connectedComponents]]: min-label
    * propagation needs `diameter` rounds, which is fine for quasi-clique
    * dup graphs but exhausts any iteration budget on a long-chain graph;
    * the star rounds contract chains at O(log n) alternations.
    *
    * Each round is two grouped aggregates + joins on the vertex id — the
    * identical shuffle shape per round as the min-label loop, so the scale
    * story is unchanged; only the message rule differs:
    *   large-star: every neighbor v > u re-points to min(N(u) ∪ {u});
    *   small-star: every neighbor v ≤ u re-points to min(N(u) ∪ {u}).
    * Fixpoint = the edge set is a union of stars centered on component
    * minima; converged when a full round leaves the [[Fixpoint.signature]]
    * of the edge set unchanged. Output contract matches [[connectedComponents]]:
    * (id, component-minimum) for every pair-touched vertex. */
  def connectedComponentsStar(pairs: DataFrame, a: String, b: String,
                              maxIter: Int = 30): DataFrame = {
    val edges0 = pairs
      .select(col(a).as("u"), col(b).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .pinTier
    val sig0 = Fixpoint.signature(edges0, "u", "v")
    // the star-minimum tables are bounded by the vertex count (≤ 2×edges);
    // while their estimated bytes fit the configured budget, broadcast
    // them into the per-round joins — the checkpointed edge set has
    // unknown stats, so Catalyst would otherwise shuffle-join every
    // alternation
    val maybeBcast = Fixpoint.broadcaster(edges0, sig0._1, "cc_star")
    val edges = Fixpoint.iterate(edges0, maxIter, 1, _.pinTier,
        Seq("u", "v"), Some(sig0)) { (e, _) =>
      // large-star: symmetrize, find each vertex's minimum incident id,
      // re-point every LARGER neighbor at it (m ≤ u < v, so no self-loops)
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val lmin = sym.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      val large = sym.join(maybeBcast(lmin), Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: direct edges high→low, re-point every low neighbor
      // (and the high vertex itself) at the minimum
      val dir = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val smin = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(maybeBcast(smin), Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(smin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    sym.groupBy(col("u"))
      .agg(min(least(col("v"), col("u"))).as("component"))
      .select(col("u").as("id"), col("component"))
  }

  /** The funnel's final answer: which document SURVIVES each dup cluster
    * under a quality policy, not just the id-minimum. [[dupClusters]] keeps
    * the cluster minimum — fine as a canonical label, but a real curation
    * pipeline keeps the BEST member (here: longest text, ties to the lower
    * doc_id — swap the ordering columns for any other quality ranking).
    * Output: one row per document with its cluster id, ranking feature and
    * keep verdict.
    *
    * Scale shape: the component fixpoint (shared with [[dupClusters]]) plus
    * ONE window over cluster_id — a single hash-partitioned shuffle; cluster
    * sizes are bounded by near-dup cluster width (quasi-cliques, not the
    * corpus), so no partition-sized skew. */
  def dupSurvivors(documents: DataFrame, pairs: DataFrame,
                   a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    val p = pairs.pinTier
    val comp = connectedComponentsStar(p, a, b).withColumnRenamed("id", "doc_id")
    val clustered = documents
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clustered
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** The dedup-funnel composition: near-dup pairs → components → one row
    * per document with its cluster id (own id when unclustered) and a
    * keep/drop verdict (the cluster minimum survives). */
  def dupClusters(documents: DataFrame, pairs: DataFrame,
                  a: String = "doc_a", b: String = "doc_b",
                  minLabel: Boolean = false): DataFrame = {
    // pin the pair tier: the component fixpoints read `pairs` twice (the
    // symmetrizing union), and when the pairs come from a full near-dup
    // pipeline (Dedup.ngramJaccardPairs) recomputing that pipeline per read
    // would double the most expensive stage of the funnel
    val p = pairs.pinTier
    // star contraction is the default: round-bounded at O(log n)
    // alternations AND — the r4 driver lesson — an order of magnitude less
    // sensitive to environment contention than a diameter-many-round
    // fixpoint (9.4 s vs 75.6 s on the identical pair tier in the same
    // driver run, VERDICT r4). Opt into min-label for shallow quasi-clique
    // graphs where diameter rounds are provably few and each round is
    // cheaper (one join vs two joins + two distincts).
    val comp = (if (minLabel) connectedComponents(p, a, b)
                else connectedComponentsStar(p, a, b))
      .withColumnRenamed("id", "doc_id")
    documents.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("int"))
      .orderBy(col("doc_id"))
  }
}
