package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Execution-shape invariance of the rank family: the same graph gives
  * bit-identical raw ranks (and identical published PPR rows) at every
  * `spark.sql.shuffle.partitions` setting. */
class RankInvarianceSpec extends SparkSpec {
  import spark.implicits._

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val partitionCounts = Seq(1, 4, 16)

  // 400 vertices, ~4,000 seeded random edges with small integer weights:
  // enough in-edges per vertex that a partition-dependent summation order
  // shows in the last bits
  private lazy val edges: DataFrame = {
    val rnd = new scala.util.Random(7)
    Seq.fill(4000)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong,
        (1 + rnd.nextInt(5)).toDouble))
      .filter { case (s, d, _) => s != d }
      .toDF("src", "dst", "weight")
  }
  private lazy val plain = edges.select(col("src"), col("dst"))
  private lazy val prior = (0L until 400L by 2L)
    .map(i => (i, 0.5 + (i % 7) * 0.25)).toDF("id", "pagerank")

  /** `op`'s collected rows at each shuffle partition count, the session's
    * setting restored afterwards. */
  private def acrossPartitions[T](op: () => Seq[T]): Seq[(Int, Seq[T])] = {
    val prev = spark.conf.get(PartitionsKey)
    try partitionCounts.map { p =>
      spark.conf.set(PartitionsKey, p.toString)
      p -> op()
    } finally spark.conf.set(PartitionsKey, prev)
  }

  /** (id, raw bits of the rank) sorted by id. */
  private def rankBits(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Double)].collect().toSeq
      .map { case (id, r) => id -> java.lang.Double.doubleToLongBits(r) }
      .sortBy(_._1)

  private def assertIdentical[T](name: String, runs: Seq[(Int, Seq[T])]): Unit = {
    val (p0, base) = runs.head
    assert(base.nonEmpty)
    runs.tail.foreach { case (p, got) =>
      val diff = base.zip(got).count { case (a, b) => a != b }
      assert(got.size == base.size && diff == 0,
        s"$name: $diff of ${base.size} rows differ between $p0 and $p shuffle partitions")
    }
  }

  test("runLongIds: bit-identical raw ranks at 1, 4 and 16 shuffle partitions") {
    assertIdentical("runLongIds",
      acrossPartitions(() => rankBits(PageRankOp.runLongIds(spark, plain))))
  }

  test("weightedPageRank (integer weights): bit-identical raw ranks at 1, 4 and 16 shuffle partitions") {
    assertIdentical("weightedPageRank",
      acrossPartitions(() => rankBits(PageRankOp.weightedPageRank(edges))))
  }

  test("resumeLongIds: bit-identical raw ranks at 1, 4 and 16 shuffle partitions") {
    assertIdentical("resumeLongIds", acrossPartitions(() =>
      rankBits(PageRankOp.resumeLongIds(spark, plain, prior, extraIter = 3))))
  }

  test("personalizedPageRank: identical published rows at 1, 4 and 16 shuffle partitions") {
    val seeds = Seq(3L, 17L, 250L).toDF("id")
    assertIdentical("personalizedPageRank", acrossPartitions(() =>
      PageRankOp.personalizedPageRank(plain, seeds, k = 50)
        .collect().map(_.toString).toSeq))
  }
}
