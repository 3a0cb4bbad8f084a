package graft.graph

import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
import org.apache.spark.graphx.lib.{PageRank => GxPageRank}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX Pregel PageRank — the reference's actual engine
  * (GraphFrames→GraphX), kept as the independent implementation that
  * cross-validates [[PageRankOp.pageRank]]. Test-only: the DataFrame
  * fixpoint is the one wired into queries. */
object GraphXPageRank {
  def run(spark: SparkSession, edges: DataFrame,
          numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    val edgeRdd = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .map { case (s, d) => GxEdge(s, d, 1.0) }
    val graph = GxGraph.fromEdges(edgeRdd, defaultValue = 1.0,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    val ranks = GxPageRank.run(graph, numIter, resetProb).vertices
    val out = ranks.toDF("id", "pagerank")
    graph.unpersist(blocking = false)
    out
  }
}
