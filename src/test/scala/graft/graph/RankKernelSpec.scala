package graft.graph

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.graftest.Listeners
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** [[RankKernel]] — weights from the vertex aggregate's out-weight and a
  * counting-sort pack of unsorted edges — publishes bit-identical raw ranks
  * (and identical PPR rows) to [[RankKernelReference]], the window weights
  * and Catalyst-sorted pack it replaces, on edge inputs, on repeated
  * (src, dst) pairs with different weights and on the sf0.01 co-occurrence
  * graph; the pack folds identically over 1 and 16 partitions; and the
  * kernel path plans no window and no sort over the edges. */
class RankKernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val sf001 = s"${new java.io.File(sf).getParent}/sf0.01"

  // FixpointSpec's edge inputs: a null endpoint on each side, a duplicated
  // (multi-)edge, a sink (5), and, for the declared-vertex entry point, an
  // isolated vertex (9) and an edge leaving the set (6)
  private lazy val edgeCases: DataFrame = Seq[(Option[Long], Option[Long], Double)](
    (Some(1L), Some(2L), 2.0), (Some(1L), Some(2L), 2.0), (Some(2L), Some(3L), 1.0),
    (Some(3L), Some(1L), 3.0), (Some(3L), Some(5L), 1.0), (Some(2L), Some(4L), 1.0),
    (Some(4L), Some(3L), 2.0), (None, Some(3L), 1.0), (Some(4L), None, 1.0),
    (Some(4L), Some(6L), 1.0)
  ).toDF("src", "dst", "weight")
  private lazy val declared = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")

  // repeated (src, dst) pairs with different weights, so a destination's
  // in-edges tie on srcIdx and only w orders them
  private lazy val repeated: DataFrame = Seq(
    (1L, 2L, 3.0), (1L, 2L, 1.0), (1L, 2L, 7.0), (3L, 2L, 5.0), (3L, 2L, 2.0),
    (2L, 1L, 1.0), (2L, 1L, 4.0), (2L, 3L, 6.0), (3L, 1L, 1.0), (1L, 3L, 2.0),
    (4L, 2L, 3.0), (4L, 2L, 3.0), (4L, 1L, 9.0), (2L, 4L, 1.0)
  ).toDF("src", "dst", "weight")

  private lazy val cooccur: DataFrame =
    Edges.partCoOccurrence(Tables.lineitem(spark, sf001)).cache()

  private lazy val fixtures: Seq[(String, DataFrame)] =
    Seq("edge cases" -> edgeCases, "repeated pairs" -> repeated, "sf0.01 co-occurrence" -> cooccur)

  private def prior(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("id")).distinct()
      .filter(col("id").isNotNull && col("id") % 2 === 0)
      .select(col("id"), (lit(0.5) + (col("id") % 7) * 0.25).as("pagerank"))

  /** (id, raw bits of the rank) sorted by id. */
  private def rankBits(df: DataFrame): Seq[(Option[Long], Long)] =
    df.collect().toSeq
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      .sortBy(_._1)

  private def assertSameBits(name: String, kernel: DataFrame, reference: DataFrame): Unit = {
    val (got, want) = (rankBits(kernel), rankBits(reference))
    assert(got.nonEmpty, name)
    val diff = got.zip(want).count { case (a, b) => a != b }
    assert(got.size == want.size && diff == 0,
      s"$name: $diff of ${want.size} raw ranks differ from the reference")
  }

  test("runLongIds: bit-identical raw ranks to the reference") {
    fixtures.foreach { case (name, e) =>
      assertSameBits(name, PageRankOp.runLongIds(spark, e), RankKernelReference.runLongIds(e))
    }
  }

  test("resumeLongIds: bit-identical raw ranks to the reference") {
    fixtures.foreach { case (name, e) =>
      assertSameBits(name, PageRankOp.resumeLongIds(spark, e, prior(e)),
        RankKernelReference.resumeLongIds(e, prior(e)))
    }
  }

  test("runWithVertices: bit-identical raw ranks to the reference") {
    val top = cooccur.groupBy(col("src").as("id")).count()
      .filter(col("count") >= 5).select(col("id"))
    Seq("edge cases" -> (declared, edgeCases), "repeated pairs" -> (declared, repeated),
        "sf0.01 co-occurrence" -> (top, cooccur)).foreach { case (name, (v, e)) =>
      assertSameBits(name, PageRankOp.runWithVertices(v, e),
        RankKernelReference.runWithVertices(v, e))
    }
  }

  test("weightedPageRank (integer weights): bit-identical raw ranks to the reference") {
    fixtures.foreach { case (name, e) =>
      assertSameBits(name, PageRankOp.weightedPageRank(e), RankKernelReference.weightedPageRank(e))
    }
  }

  test("personalizedPageRank: identical rows and schema to the reference") {
    fixtures.foreach { case (name, e) =>
      val seeds = e.select(col("src").cast("long").as("id")).distinct()
        .filter(col("id") % 3 === 0)
      val got = PageRankOp.personalizedPageRank(e, seeds, k = 20)
      val want = RankKernelReference.personalizedPageRank(e, seeds, k = 20)
      assert(got.schema == want.schema, name)
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.nonEmpty, name)
      assert(g == w, s"$name: PPR rows differ from the reference")
    }
  }

  test("pack: unsorted rows fold bit-identically over 1 and 16 partitions, and as the sorted pack") {
    // (dstIdx, srcIdx, w) over 40 vertices with repeated pairs; 16
    // partitions by dstIdx leave some without any edge
    val n = 40
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(600)((rnd.nextInt(12) * 3, rnd.nextInt(n), (1 + rnd.nextInt(4)) / 7.0))
    val rank = Array.tabulate(n)(i => 0.5 + ((i * 37) % 11) / 3.0)
    def folded(parts: Int, pack: Iterator[InternalRow] => RankKernel.InEdges): Seq[(Int, Long)] =
      (0 until parts).flatMap { p =>
        val mine = rnd.shuffle(rows.filter(_._1 % parts == p))
        val (dst, c) = pack(mine.iterator.map { case (d, s, w) => InternalRow(d, s, w) }).fold(rank)
        dst.indices.map(i => dst(i) -> java.lang.Double.doubleToLongBits(c(i)))
      }.sortBy(_._1)
    assert((0 until 16).exists(p => !rows.exists(_._1 % 16 == p)))
    val one = folded(1, RankKernel.pack(n, _))
    assert(one.size == rows.map(_._1).distinct.size)
    assert(folded(16, RankKernel.pack(n, _)) == one)
    val sorted = rows.sorted(
        Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Double.TotalOrdering))
      .map { case (d, s, w) => InternalRow(d, s, w) }
    val (dst, c) = RankKernelReference.sortedPack(sorted.iterator).fold(rank)
    assert(dst.indices.map(i => dst(i) -> java.lang.Double.doubleToLongBits(c(i))) == one)
    assert(RankKernel.pack(n, Iterator.empty).fold(rank)._1.isEmpty)
  }

  test("plan pin: runLongIds at the default budget runs no window and at most one sort, the vertex ordering") {
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(PageRankOp.runLongIds(spark, edgeCases).collect().nonEmpty)
      Listeners.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plans: Seq[SparkPlan] = executed.asScala.toSeq.map(_.executedPlan)
    // the edge-packing plan must be among those observed, or the pins
    // below would hold vacuously
    val packing = plans.filter(p => collectWithSubqueries(p) {
      case e: ShuffleExchangeLike if e.outputPartitioning.toString.contains("dstIdx") => e
    }.nonEmpty)
    assert(packing.size == 1, s"expected one edge-packing plan among:\n${plans.mkString("\n")}")
    val windows = plans.flatMap(collectWithSubqueries(_) { case w: WindowExec => w })
    assert(windows.isEmpty, s"window over the edges:\n${windows.mkString("\n")}")
    val sorts = plans.flatMap(collectWithSubqueries(_) { case s: SortExec => s })
    assert(sorts.size <= 1, s"sorts beyond the vertex ordering:\n${sorts.mkString("\n")}")
  }
}
