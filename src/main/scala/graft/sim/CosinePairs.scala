package graft.sim

import scala.collection.mutable.ArrayBuffer

import graft.Tier.PinOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The exact all-pairs cosine of [[Similarity.cosineNearDups]] as one packed
  * pair kernel.
  *
  * The (vec_id, embedding) rows are collected once, rows with a null id or
  * a null embedding dropped, the rest sorted by id and packed into one
  * float array with per-row offsets, ids and norms (each norm computed once,
  * as `sqrt` of the index-order self-dot). The packed rows are broadcast and
  * ONE Spark job scores the pairs: row i goes to slice i mod P, so each task
  * gets an equal share of the triangle. A task emits (id_a, id_b, dot,
  * na · nb) only for id_a < id_b strictly (sorted order alone admits equal
  * ids) and only for candidates, whose raw cosine r = dot / (na · nb)
  * satisfies `r.isNaN || r >= threshold − Margin`. Catalyst then applies
  * the nested-loop formulation's `round(dot / (na · nb), 4)`,
  * `cos_sim >= threshold` and ordering to the candidates alone, so the
  * `BigDecimal` round trip of `round` never runs on the n²/2 pairs.
  *
  * The dot uses the arithmetic of the [[graft.functions.DotProduct]]
  * codegen: each float widened to double, summed over min(len_a, len_b) in
  * index order with one accumulator. No unrolling, no FMA, so every
  * published `cos_sim` is bit-identical to the nested-loop formulation.
  * The division stays Catalyst's, a `try_divide` as in
  * [[Similarity.cosine]]: a zero or empty vector's pairs are candidates (r
  * is NaN), divide to null with ANSI mode on or off, and the threshold
  * filter drops them. A vector holding a NaN pairs at NaN with everything,
  * kept: Spark orders NaN above every number. */
private[sim] object CosinePairs {

  /** How far below the threshold a raw cosine stays a candidate. Safe:
    * for a nonzero divisor, Catalyst divides to the same IEEE quotient x
    * the kernel tests, and Spark's `round(x, 4)` rounds d, the decimal form
    * of x (its `Double.toString`, within half an ulp of x), half-up to 4
    * places. If that reaches t, then d ≥ t − 5e-5, so
    * x ≥ t − 5e-5 − ulp(x)/2. A raw cosine of float vectors is NaN (a zero
    * divisor, or a NaN or infinite element) or lies within rounding of
    * [−1, 1], so ulp(x)/2 ≤ 2.3e-16; for |t| ≤ 2 the computed floor
    * t − 1e-4 lies below t − 5e-5 − 2.3e-16 by far more than its own
    * rounding. For t > 2 no cosine rounds to t, and for t < −2 every cosine
    * clears the floor. NaN is kept explicitly, so a zero divisor reaches
    * Catalyst's null-guarded divide and a NaN cosine reaches its
    * `NaN >= t`, which holds. */
  val Margin: Double = 1e-4

  /** Rows sorted by id; row i's vector is `data(off(i) until off(i + 1))`. */
  final class Packed(ids: Array[Long], off: Array[Int], data: Array[Float],
                     norms: Array[Double]) extends Serializable {

    def size: Int = ids.length

    /** Candidate pairs (id_a, id_b, dot, na · nb) whose first row lies in
      * `slice` of `slices` row-interleaved slices. Lazy over rows, so a task
      * holds at most one row's candidates. */
    def candidates(slice: Int, slices: Int, floor: Double): Iterator[Row] =
      Iterator.range(slice, size, slices).flatMap(i => rowCandidates(i, floor))

    private def rowCandidates(i: Int, floor: Double): Iterator[Row] = {
      val hits = ArrayBuffer.empty[Row]
      val oa = off(i)
      val la = off(i + 1) - oa
      var j = i + 1
      while (j < size) {
        if (ids(i) < ids(j)) {
          val ob = off(j)
          val m = math.min(la, off(j + 1) - ob)
          var s = 0.0
          var k = 0
          while (k < m) {
            s += data(oa + k).toDouble * data(ob + k).toDouble
            k += 1
          }
          val nn = norms(i) * norms(j)
          val raw = s / nn
          if (raw.isNaN || raw >= floor) hits += Row(ids(i), ids(j), s, nn)
        }
        j += 1
      }
      hits.iterator
    }
  }

  /** Packs (id, vector) rows, already sorted by id. */
  private def pack(rows: Array[(Long, Array[Float])]): Packed = {
    val off = rows.scanLeft(0)(_ + _._2.length)
    val data = new Array[Float](off.last)
    val norms = rows.indices.map { i =>
      val v = rows(i)._2
      System.arraycopy(v, 0, data, off(i), v.length)
      math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
    }.toArray
    new Packed(rows.map(_._1), off, data, norms)
  }

  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  def nearDups(embeddings: DataFrame, threshold: Double,
               maxExactRows: Long): DataFrame = {
    val idType = embeddings.schema("vec_id").dataType
    require(Integral(idType), s"cosineNearDups: vec_id must be integral, got $idType")
    embeddings.schema("embedding").dataType match {
      case ArrayType(FloatType, _) =>
      case t => throw new IllegalArgumentException(
        s"cosineNearDups: embedding must be array<float>, got ${t.simpleString}")
    }
    // the one bounded collect is also the row guard: it sees every input
    // row, null ids included, and never more than maxExactRows + 1
    val cap = math.min(maxExactRows, Int.MaxValue - 1L).toInt + 1
    val rows = embeddings.select(col("vec_id"), col("embedding")).limit(cap).collect()
    require(rows.length <= maxExactRows,
      s"cosineNearDups: the input exceeds maxExactRows=$maxExactRows rows — this " +
        "is the exact O(n²) small-sample baseline; run cosineNearDupsLSH on a " +
        "corpus, or confine the probe (filter vec_id) the way recallAudit does")
    val packed = pack(rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .map(r => (r.getAs[Number](0).longValue, r.getSeq[Float](1).toArray))
      .sortBy(_._1))
    val spark = embeddings.sparkSession
    val sc = spark.sparkContext
    val slices = sc.defaultParallelism
    val floor = threshold - Margin
    val b = sc.broadcast(packed)
    val candidates = spark.createDataFrame(
      sc.parallelize(0 until slices, slices)
        .flatMap(s => b.value.candidates(s, slices, floor)),
      StructType(Seq(StructField("id_a", LongType, nullable = false),
        StructField("id_b", LongType, nullable = false),
        StructField("dot", DoubleType, nullable = false),
        StructField("nn", DoubleType, nullable = false))))
      .pinTier
    b.destroy()
    candidates
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"),
        round(try_divide(col("dot"), col("nn")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }
}
