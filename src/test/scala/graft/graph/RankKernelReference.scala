package graft.graph

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The Catalyst form of the rank family's driver-resident path, kept as
  * the reference [[RankKernel]] is checked against: transition weights
  * from one src-partitioned window (1/outDeg, or wt / Σ_out wt), the
  * (dstIdx, srcIdx, w) rows sorted within each dstIdx partition by a
  * Catalyst sort, and a packer that relies on that order. The entry points
  * mirror [[PageRankOp]]'s vertex and edge preparation and always take
  * the driver-resident path. */
object RankKernelReference {

  private val outShare: Column =
    lit(1.0) / count(lit(1)).over(Window.partitionBy(col("src")))

  private def endpoints(e: DataFrame): DataFrame =
    e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()

  private def longEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))

  def runLongIds(edges: DataFrame, numIter: Int = 10,
                 resetProb: Double = 0.15): DataFrame = {
    val e = longEdges(edges)
    sumToN(endpoints(e), e.select(col("src"), col("dst"), outShare.as("w")),
      numIter, resetProb, None)
  }

  def resumeLongIds(edges: DataFrame, prevRanks: DataFrame, extraIter: Int = 3,
                    resetProb: Double = 0.15): DataFrame = {
    val e = longEdges(edges)
    sumToN(endpoints(e), e.select(col("src"), col("dst"), outShare.as("w")),
      extraIter, resetProb, Some(prevRanks.select(col("id"), col("pagerank").as("rank"))))
  }

  def runWithVertices(vertices: DataFrame, edges: DataFrame, numIter: Int = 10,
                      resetProb: Double = 0.15): DataFrame = {
    val v = vertices.select(col("id")).distinct()
    val e = edges
      .join(v.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(v.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    sumToN(v, e.select(col("src"), col("dst"), outShare.as("w")), numIter, resetProb, None)
  }

  def weightedPageRank(edges: DataFrame, numIter: Int = 10,
                       resetProb: Double = 0.15): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double").as("wt"))
    val ew = e.select(col("src"), col("dst"), col("wt"),
        sum(col("wt")).over(Window.partitionBy(col("src"))).as("outw"))
      .filter(col("outw") > 0.0)
      .select(col("src"), col("dst"), (col("wt") / col("outw")).as("w"))
    sumToN(endpoints(e), ew, numIter, resetProb, None)
  }

  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, numIter: Int = 10,
                           resetProb: Double = 0.15, k: Int = 100): DataFrame = {
    val e = longEdges(edges)
    val init = endpoints(e)
      .join(broadcast(seeds.select(col("id"), lit(1).as("s"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0)).cast("double").as("seed"))
    run(e.select(col("src"), col("dst"), outShare.as("w")), init, numIter, resetProb,
        lit(resetProb) * col("seed"), col("seed"), normalize = false)
      .select(col("id"), round(col("rank"), 6).as("ppr"))
      .filter(col("ppr") > 0.0)
      .orderBy(col("ppr").desc, col("id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("ppr").desc, col("id"))).cast("bigint"))
      .select(col("rank"), col("id"), col("ppr"))
  }

  private def sumToN(vertices: DataFrame, ew: DataFrame, numIter: Int,
                     resetProb: Double, init0: Option[DataFrame]): DataFrame = {
    val ids = vertices.select(col("id")).distinct()
    val init = init0 match {
      case Some(r0) => ids
        .join(r0.select(col("id"), col("rank").as("__r0")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__r0"), lit(1.0)).as("rank"))
      case None => ids.select(col("id"), lit(1.0).as("rank"))
    }
    run(ew, init, numIter, resetProb, lit(resetProb), col("rank"), normalize = true)
      .withColumnRenamed("rank", "pagerank")
  }

  /** Packs (dstIdx, srcIdx, w) rows sorted by (dstIdx, srcIdx, w). */
  def sortedPack(rows: Iterator[InternalRow]): RankKernel.InEdges = {
    val dst = ArrayBuilder.make[Int]
    val off = ArrayBuilder.make[Int]
    val src = ArrayBuilder.make[Int]
    val w = ArrayBuilder.make[Double]
    var last = -1
    var m = 0
    rows.foreach { r =>
      val d = r.getInt(0)
      if (d != last) {
        dst += d
        off += m
        last = d
      }
      src += r.getInt(1)
      w += r.getDouble(2)
      m += 1
    }
    off += m
    new RankKernel.InEdges(dst.result(), off.result(), src.result(), w.result())
  }

  /** `numIter` rounds over the transition-weight edges `ew` (src, dst, w)
    * from the vertex table `init`; a local (id, rank) frame in id order. */
  def run(ew: DataFrame, init: DataFrame, numIter: Int, resetProb: Double,
          reset: Column, rank0: Column, normalize: Boolean): DataFrame = {
    val spark = init.sparkSession
    val sc = spark.sparkContext
    val idField = init.schema("id")
    val verts = init.select(col("id"), reset, rank0)
      .coalesce(1).sortWithinPartitions(col("id")).collect()
    val n = verts.length
    def byIndex(values: Int => Any, id: StructField, value: StructField) =
      spark.createDataFrame(
        java.util.Arrays.asList(verts.indices.map(i => Row(verts(i).get(0), values(i))): _*),
        StructType(Seq(id, value)))
    val resets = verts.map(_.getDouble(1))
    var rank = verts.map(_.getDouble(2))
    if (numIter > 0 && n > 0) {
      def index(end: String): DataFrame = broadcast(byIndex(i => i,
        idField.copy(name = end), StructField(end + "Idx", IntegerType, nullable = false)))
      val edges = ew.filter(col("w").isNotNull)
        .join(index("src"), Seq("src"))
        .join(index("dst"), Seq("dst"))
        .select(col("dstIdx"), col("srcIdx"), col("w"))
        .repartition(sc.defaultParallelism, col("dstIdx"))
        .sortWithinPartitions(col("dstIdx"), col("srcIdx"), col("w"))
        .queryExecution.toRdd
        .mapPartitions(rows => Iterator(sortedPack(rows)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val damp = 1.0 - resetProb
      for (_ <- 1 to numIter) {
        val b = sc.broadcast(rank)
        val contrib = new Array[Double](n)
        edges.map(_.fold(b.value)).collect().foreach { case (dst, c) =>
          dst.indices.foreach(i => contrib(dst(i)) = c(i))
        }
        b.destroy()
        rank = Array.tabulate(n)(v => resets(v) + damp * contrib(v))
      }
      edges.unpersist(blocking = false)
    }
    val scale = if (normalize) Fixpoint.scaleToN(rank.sum, n) else 1.0
    byIndex(i => rank(i) * scale, idField, StructField("rank", DoubleType, nullable = false))
  }
}
