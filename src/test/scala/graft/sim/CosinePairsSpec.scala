package graft.sim

import graft.{JobCount, SparkSpec}
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The packed pair kernel behind [[Similarity.cosineNearDups]] publishes
  * exactly the rows of the nested-loop join formulation
  * ([[NestedLoopCosine]]), on edge inputs and on the sf0.01 embeddings; the
  * rows do not depend on the shuffle partition count; and the job count on
  * the sf0.01 fixture is pinned. */
class CosinePairsSpec extends SparkSpec {

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val AnsiKey = "spark.sql.ansi.enabled"
  private lazy val sf001 = s"${new java.io.File(sf).getParent}/sf0.01"

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  // the near-threshold pair: raw cosine of (1, 0) and `nearB` just below
  // `nearT`, within the half-unit that round(·, 4) lifts to exactly `nearT`
  private val nearT = 0.5
  private val nearB = Array(0.49998f, 0.866f)

  private def frame(rows: Seq[(java.lang.Long, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, v) => Row(id, Option(v).map(_.toSeq).orNull) }: _*), schema)

  /** A NaN element (NaN pairs), a duplicated id, a null id, a null
    * embedding, ragged lengths and the near-threshold pair (ids 10, 11). */
  private lazy val edge: DataFrame = frame(Seq(
    (2L, Array(1f, 2f, 3f)),
    (3L, Array(1f, 2f, 3.5f)),
    (4L, Array(1f, Float.NaN, 2f)),
    (5L, Array(3f, 1f)),
    (5L, Array(3f, 1.2f, 0.1f)),
    (null, Array(1f, 2f, 3f)),
    (6L, null),
    (8L, Array(-1f, -2f, -3f, 4f)),
    (9L, Array(2f, 4f, 6f, 1f, 1f)),
    (10L, Array(1f, 0f)),
    (11L, nearB)))

  /** Rows as (id_a, id_b, cos_sim bits), sorted: duplicate ids make the
    * published order of equal (id_a, id_b) keys unspecified. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .sorted

  private def assertMatchesReference(emb: DataFrame, t: Double): Seq[(Long, Long, Long)] = {
    val got = rows(Similarity.cosineNearDups(emb, t))
    val want = rows(NestedLoopCosine.nearDups(emb, t))
    assert(got == want, s"threshold $t: kernel ${got.size} rows, reference ${want.size}")
    got
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def cos(bits: Long): Double = java.lang.Double.longBitsToDouble(bits)

  test("edge fixture: kernel rows equal the nested-loop reference at every threshold") {
    Seq(-1.0, 0.0, 0.9, nearT, 1.0, 1.1).foreach(t => assertMatchesReference(edge, t))
  }

  test("NaN cosines are kept, even above 1") {
    val got = assertMatchesReference(edge, 1.1)
    assert(got.nonEmpty && got.forall(r => cos(r._3).isNaN))
    assert(got.forall(r => r._1 == 4L || r._2 == 4L))
  }

  test("threshold -1 keeps every (a < b) pair of the non-null rows, duplicates included") {
    val got = assertMatchesReference(edge, -1.0)
    // 9 rows with an id and an embedding; the two id-5 rows never pair
    assert(got.size == 9 * 8 / 2 - 1)
    assert(got.count(r => r._1 == 3L && r._2 == 5L) == 2)
    assert(got.forall(r => r._1 < r._2))
  }

  test("a raw cosine just below the threshold is published rounded up to it") {
    val nb = math.sqrt(nearB.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
    val raw = nearB(0).toDouble / (1.0 * nb)
    assert(raw >= nearT - 5e-5 && raw < nearT, s"fixture raw cosine $raw")
    val got = assertMatchesReference(edge, nearT)
    assert(got.contains((10L, 11L, java.lang.Double.doubleToLongBits(nearT))))
  }

  test("zero and empty vectors pair with nothing, under ANSI and without") {
    Seq(Array(0f, 0f, 0f), Array.empty[Float]).foreach { v =>
      val emb = edge.unionByName(frame(Seq((1L, v))))
      // id 1 pairs only with the NaN vector: 0 · NaN is no zero divisor
      Seq(-1.0, 1.1).foreach { t =>
        val byMode = Seq("true", "false").map(ansi =>
          withConf(AnsiKey, ansi)(assertMatchesReference(emb, t)))
        assert(byMode.distinct.size == 1, s"threshold $t: rows depend on ANSI mode")
        assert(byMode.head.forall(r => r._1 != 1L || r._2 == 4L))
      }
    }
  }

  test("empty input publishes no rows and no error") {
    assert(assertMatchesReference(frame(Nil), 0.35).isEmpty)
  }

  test("sf0.01 embeddings: kernel rows equal the nested-loop reference at 0.3 and 0.35") {
    val emb = Tables.embeddings(spark, sf001)
    Seq(0.3, 0.35).foreach(t => assert(assertMatchesReference(emb, t).nonEmpty))
  }

  test("identical rows at 1, 4 and 16 shuffle partitions, the setting restored") {
    val emb = Tables.embeddings(spark, sf001)
    val prev = spark.conf.get(PartitionsKey)
    val runs = try Seq(1, 4, 16).map { p =>
      spark.conf.set(PartitionsKey, p.toString)
      p -> Similarity.cosineNearDups(emb, 0.35).collect().map(_.toString).toSeq
    } finally spark.conf.set(PartitionsKey, prev)
    assert(spark.conf.get(PartitionsKey) == prev)
    val (_, base) = runs.head
    assert(base.nonEmpty)
    runs.tail.foreach { case (p, got) =>
      assert(got == base, s"rows differ between 1 and $p shuffle partitions")
    }
  }

  test("job count on the sf0.01 fixture: collect, pair job, then the ordering") {
    val emb = Tables.embeddings(spark, sf001)
    val (n, jobs) = JobCount(spark)(Similarity.cosineNearDups(emb, 0.35).collect().length)
    assert(n > 0)
    assert(jobs == 5, s"cosineNearDups ran $jobs jobs")
  }
}
