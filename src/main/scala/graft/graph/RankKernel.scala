package graft.graph

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The rank recurrence of [[PageRankOp]] with its state on the driver,
  * for states within the [[Fixpoint]] broadcast budget:
  * rank_i(v) = reset(v) + (1−resetProb)·Σ_{u→v} w_uv·rank_{i−1}(u), with
  * the transition weight w_uv = wt_uv / outw(u).
  *
  * The vertices are collected once with their out-weight `outw` (Σ wt over
  * the out-edges, from the caller's vertex aggregate), ordered by id, and
  * indexed 0..n−1 in that order. The raw edges are mapped to (dstIdx,
  * srcIdx, w) by broadcast joins against the (id, idx) tables, so null
  * ids never match; the src table carries `outw`, so w is the one IEEE
  * quotient wt / outw. The rows are hash-partitioned on dstIdx and, in
  * arrival order, packed once into primitive arrays by [[pack]]: no
  * Catalyst sort or window runs over the edges. Each round is then ONE
  * Spark job: the rank vector is broadcast, and every task folds its own
  * destinations' in-edges in (srcIdx, w) order and returns one
  * contribution per destination, so the driver receives n values per round
  * at any partition count. No round re-plans anything through Catalyst.
  *
  * Every sum runs in a fixed order (a destination's in-edges by (srcIdx,
  * w), the sum-to-N total by vertex index), so raw ranks are bit-identical
  * at any shuffle partition or core count. */
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

  /** `order` stably re-ordered by `key(order(i))`, keys in [0, n): one
    * counting sort. */
  private def countingSort(key: Array[Int], order: Array[Int], n: Int): Array[Int] = {
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < order.length) {
      start(key(order(i)) + 1) += 1
      i += 1
    }
    i = 0
    while (i < n) {
      start(i + 1) += start(i)
      i += 1
    }
    val out = new Array[Int](order.length)
    i = 0
    while (i < order.length) {
      val k = key(order(i))
      out(start(k)) = order(i)
      start(k) += 1
      i += 1
    }
    out
  }

  /** Packs (dstIdx, srcIdx, w) rows over `n` vertices, in any order, into
    * [[InEdges]]: a counting sort on srcIdx and then a stable one on
    * dstIdx leave each destination's in-edges in srcIdx order, and a
    * primitive sort orders the weights of each repeated (dstIdx, srcIdx)
    * pair, so the fold order does not depend on arrival order. */
  private[graph] def pack(n: Int, rows: Iterator[InternalRow]): InEdges = {
    val (db, sb, wb) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int], ArrayBuilder.make[Double])
    rows.foreach { r =>
      db += r.getInt(0)
      sb += r.getInt(1)
      wb += r.getDouble(2)
    }
    val (d, s, w0) = (db.result(), sb.result(), wb.result())
    val m = d.length
    val order = countingSort(d, countingSort(s, Array.range(0, m), n), n)
    val dst = ArrayBuilder.make[Int]
    val off = ArrayBuilder.make[Int]
    val src = new Array[Int](m)
    val w = new Array[Double](m)
    var run = 0 // start of the current (dstIdx, srcIdx) run
    var i = 0
    while (i < m) {
      val e = order(i)
      src(i) = s(e)
      w(i) = w0(e)
      val newDst = i == 0 || d(e) != d(order(i - 1))
      if (newDst) {
        dst += d(e)
        off += i
      }
      if (newDst || s(e) != src(i - 1)) {
        if (i - run > 1) java.util.Arrays.sort(w, run, i)
        run = i
      }
      i += 1
    }
    if (m - run > 1) java.util.Arrays.sort(w, run, m)
    off += m
    new InEdges(dst.result(), off.result(), src, w)
  }

  /** `numIter` rounds over the raw edges `edges` (src, dst, wt) from the
    * vertex table `init` (id, outw, plus the columns `reset` and `rank0`
    * read). Edges whose source has no positive out-weight, or whose weight
    * is null, carry no rank. Returns a local (id, rank) frame in id order,
    * scaled to sum to the vertex count when `normalize` is set. */
  def run(edges: DataFrame, init: DataFrame, numIter: Int, resetProb: Double,
          reset: Column, rank0: Column, normalize: Boolean): DataFrame = {
    val spark = init.sparkSession
    val sc = spark.sparkContext
    val idField = init.schema("id")
    val verts = init.select(col("id"), col("outw"), reset, rank0)
      .coalesce(1).sortWithinPartitions(col("id")).collect()
    val n = verts.length
    // (id, value…) rows in index order, as a local frame
    def byIndex(fields: Seq[StructField], values: (Int => Any)*) =
      spark.createDataFrame(
        java.util.Arrays.asList(verts.indices.map(i =>
          Row.fromSeq(verts(i).get(0) +: values.map(_(i)))): _*),
        StructType(fields))
    val resets = verts.map(_.getDouble(2))
    var rank = verts.map(_.getDouble(3))
    if (numIter > 0 && n > 0) {
      def index(end: String) = StructField(end + "Idx", IntegerType, nullable = false)
      val srcIndex = byIndex(Seq(idField.copy(name = "src"), index("src"),
        StructField("outw", DoubleType)), i => i, i => verts(i).get(1))
      val dstIndex = byIndex(Seq(idField.copy(name = "dst"), index("dst")), i => i)
      val qe = edges
        .join(broadcast(srcIndex), Seq("src"))
        .join(broadcast(dstIndex), Seq("dst"))
        .filter(col("outw") > 0.0)
        .select(col("dstIdx"), col("srcIdx"), (col("wt") / col("outw")).as("w"))
        .filter(col("w").isNotNull)
        .repartition(sc.defaultParallelism, col("dstIdx"))
        .queryExecution
      // run as a named execution, so listeners and the SQL UI see the
      // edge plan like any other query's
      val packed = SQLExecution.withNewExecutionId(qe, Some("RankKernel.pack"))(qe.toRdd)
        .mapPartitions(rows => Iterator(pack(n, rows)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val damp = 1.0 - resetProb
      for (_ <- 1 to numIter) {
        val b = sc.broadcast(rank)
        val contrib = new Array[Double](n)
        packed.map(_.fold(b.value)).collect().foreach { case (dst, c) =>
          dst.indices.foreach(i => contrib(dst(i)) = c(i))
        }
        b.destroy()
        rank = Array.tabulate(n)(v => resets(v) + damp * contrib(v))
      }
      packed.unpersist(blocking = false)
    }
    val scale = if (normalize) Fixpoint.scaleToN(rank.sum, n) else 1.0
    byIndex(Seq(idField, StructField("rank", DoubleType, nullable = false)),
      i => rank(i) * scale)
  }
}
