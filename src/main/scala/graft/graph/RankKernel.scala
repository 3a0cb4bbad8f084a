package graft.graph

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The rank recurrence of [[PageRankOp]] with its state on the driver,
  * for states within the [[Fixpoint]] broadcast budget:
  * rank_i(v) = reset(v) + (1−resetProb)·Σ_{u→v} w_uv·rank_{i−1}(u).
  *
  * The vertices are collected once, ordered by id, and indexed 0..n−1 in
  * that order. The transition-weight edges are mapped to (dstIdx, srcIdx,
  * w) by one broadcast join against the (id, idx) table, so null ids never
  * match, hash-partitioned on dstIdx, sorted within each partition by
  * Catalyst, and packed once into primitive arrays. Each round is then ONE
  * Spark job: the rank vector is broadcast, and every task folds its own
  * destinations' in-edges in (srcIdx, w) order and returns one contribution
  * per destination, so the driver receives n values per round at any
  * partition count. No round re-plans anything through Catalyst.
  *
  * Every sum runs in a fixed order (a destination's in-edges by srcIdx, the
  * sum-to-N total by vertex index), so raw ranks are bit-identical at any
  * shuffle partition or core count. */
private[graph] object RankKernel {

  /** One partition's edges in compressed-sparse-row form: destination
    * `dst(i)` has the in-edges `src`/`w` at `off(i) until off(i + 1)`. */
  final class InEdges(dst: Array[Int], off: Array[Int],
                      src: Array[Int], w: Array[Double]) extends Serializable {

    /** (destination indices, Σ w·rank(src) per destination). */
    def fold(rank: Array[Double]): (Array[Int], Array[Double]) = {
      val contrib = new Array[Double](dst.length)
      var i = 0
      while (i < dst.length) {
        var s = 0.0
        var j = off(i)
        while (j < off(i + 1)) {
          s += w(j) * rank(src(j))
          j += 1
        }
        contrib(i) = s
        i += 1
      }
      (dst, contrib)
    }
  }

  /** Packs (dstIdx, srcIdx, w) rows sorted by dstIdx into [[InEdges]]. */
  private def pack(rows: Iterator[InternalRow]): InEdges = {
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
    new InEdges(dst.result(), off.result(), src.result(), w.result())
  }

  /** `numIter` rounds over the transition-weight edges `ew` (src, dst, w)
    * from the vertex table `init` (id plus the columns `reset` and `rank0`
    * read). Returns a local (id, rank) frame in id order, scaled to sum to
    * the vertex count when `normalize` is set. */
  def run(ew: DataFrame, init: DataFrame, numIter: Int, resetProb: Double,
          reset: Column, rank0: Column, normalize: Boolean): DataFrame = {
    val spark = init.sparkSession
    val sc = spark.sparkContext
    val idField = init.schema("id")
    val verts = init.select(col("id"), reset, rank0)
      .coalesce(1).sortWithinPartitions(col("id")).collect()
    val n = verts.length
    // (id, value) rows in index order, as a local frame
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
        .mapPartitions(rows => Iterator(pack(rows)))
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
    byIndex(i => rank(i) * scale, idField,
      StructField("rank", DoubleType, nullable = false))
  }
}
