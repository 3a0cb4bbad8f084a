package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances — "how far is everything from THESE
  * vertices": seed-set reachability radii (crawl frontier depth, blast-area
  * analysis around flagged spam parts, feature "hops to nearest labeled
  * node"). North-star scope: the reference's GraphFrames stack exposes
  * exactly this as `bfs`/`shortestPaths`; here it is the third member of the
  * fixed-round fixpoint family (PageRank, k-core) so the oracle can replay
  * it exactly.
  *
  * Contract: distances are hop counts along DIRECTED edges (feed a
  * symmetrized edge list for undirected semantics — the co-occurrence graph
  * already emits both orientations), bounded at `maxHops` rounds; vertices
  * first reached in round h get dist = h, which IS the true hop distance
  * (BFS layer = shortest unweighted path), so rounds are order-insensitive
  * and the bounded run equals the unbounded one on every vertex within the
  * horizon. Seeds outside the edge list's vertex set are dropped (distance
  * is defined within the graph).
  *
  * Scale shape: the classic frontier iteration — per round, only the NEWLY
  * reached vertices join the cached (src-partitioned) edge list, so total
  * join work across all rounds is one pass over the edges reachable from
  * the seeds, not rounds × |E|. Frontier and visited-set joins broadcast
  * under the [[Fixpoint]] budget (same policy as every fixpoint
  * here); past it they fall back to shuffle joins on the pre-partitioned
  * edge side. The frontier is pinned per round (it is both the next join
  * input and the early-exit probe), and the visited set accumulates as a
  * union of ≤maxHops pinned layers — bounded lineage by construction. */
object Bfs {

  /** Per-vertex minimum hop distance from any seed, `maxHops` rounds.
    * Output: (id, dist), dist ∈ [0, maxHops], ordered by (dist, id). */
  def hopDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int = 6): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("src")).cache()
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var visited = seeds.select(col("id").cast("long")).distinct()
      .join(verts, Seq("id"), "left_semi")
      .select(col("id"), lit(0L).as("dist")).pinTier
    var layers = List(visited)
    var frontier = visited.select(col("id"))
    var frontierRows = visited.count()
    var visitedRows = frontierRows
    var h = 1
    while (h <= maxHops && frontierRows > 0) {
      def mb(df: DataFrame, rows: Long, tag: String): DataFrame =
        Fixpoint.broadcaster(df, rows, tag)(df)
      val reached = e
        .join(mb(frontier.withColumnRenamed("id", "src"), frontierRows,
          s"bfs_frontier_$h"), Seq("src"))
        .select(col("dst").as("id")).distinct()
      val next = reached
        .join(mb(visited.select(col("id")), visitedRows, s"bfs_visited_$h"),
          Seq("id"), "left_anti")
        .select(col("id"), lit(h.toLong).as("dist"))
        .pinTier
      frontierRows = next.count()
      visitedRows += frontierRows
      layers = next :: layers
      visited = layers.reduce(_ unionByName _)
      frontier = next.select(col("id"))
      h += 1
    }
    e.unpersist(blocking = false)
    visited.orderBy(col("dist"), col("id"))
  }
}
