package graft.dedup

import scala.collection.mutable

import graft.Tier.PinOps
import graft.functions.{PolyHash, PolyHash61}
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MinHash signatures and shingle sets of [[Dedup.minhashNearDups]] as
  * one per-document kernel.
  *
  * The (doc_id, tokens) rows are hash-partitioned on doc_id into
  * `defaultParallelism` partitions and sorted within each, so every row of
  * a doc_id arrives in one run. One pass over each partition builds each
  * row's distinct word k-shingles the way the DuckDB oracle does (positions
  * 1 .. max(n − k + 1, 1), a row shorter than k is one shingle of all its
  * tokens, a zero-token or null-text row has none), unions the rows of a
  * doc_id, hashes each distinct shingle once ([[PolyHash.hash]], or
  * [[PolyHash61.hash]] for the wide family) and folds the numPerm affine
  * minimums `(a·x + b) mod p` ([[PolyHash61.affine]] for the wide family).
  * Every doc_id with at least one shingle, null included, yields one pinned
  * (doc_id, signature, sh) row; `sh` is its shingle set. The aggregate
  * form over [[Dedup.shingleRows]] (`MinHashReference` in the tests) is
  * the reference the kernel is checked against. */
private[dedup] object MinHashKernel {

  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("signature", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(StringType, containsNull = false), nullable = false)))

  def signatures(documents: DataFrame, k: Int, numPerm: Int, wide: Boolean): DataFrame = {
    require(k >= 1, s"minhash: k=$k must be at least 1")
    val idType = documents.schema("doc_id").dataType
    require(Integral(idType), s"minhash: doc_id must be integral, got $idType")
    val perms = (0 until numPerm).map(j =>
      if (wide) Dedup.minhashPerm61(j) else Dedup.minhashPerm(j))
    val a = perms.map(_._1).toArray
    val b = perms.map(_._2).toArray
    val spark = documents.sparkSession
    val rows = documents
      .select(col("doc_id").cast(LongType).as("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .queryExecution.toRdd
      .mapPartitions(it => new Signer(it, k, a, b, wide))
    spark.createDataFrame(rows, Schema).pinTier
      .select(col("doc_id").cast(idType).as("doc_id"), col("signature"), col("sh"))
  }

  /** One doc_id's distinct shingles and running signature. */
  private final class Doc(k: Int, a: Array[Long], b: Array[Long], wide: Boolean) {
    private val sig = Array.fill(a.length)(Long.MaxValue)
    private val sh = mutable.HashSet.empty[String]

    def add(toks: ArrayData): Unit = {
      val n = toks.numElements()
      val t = Array.tabulate(n)(i => toks.getUTF8String(i).toString)
      val last = if (n == 0) -1 else math.max(n - k, 0)
      var i = 0
      while (i <= last) {
        val s = t.slice(i, math.min(i + k, n)).mkString(" ")
        if (sh.add(s)) fold(s)
        i += 1
      }
    }

    private def fold(s: String): Unit = {
      val x = if (wide) PolyHash61.hash(s) else PolyHash.hash(s)
      var j = 0
      while (j < sig.length) {
        val h = if (wide) PolyHash61.affine(a(j), x, b(j)) else (a(j) * x + b(j)) % PolyHash.Mod
        if (h < sig(j)) sig(j) = h
        j += 1
      }
    }

    def row(id: java.lang.Long): Option[Row] =
      if (sh.isEmpty) None else Some(Row(id, sig, sh.toArray))
  }

  /** Folds each run of rows sharing a doc_id (the input is sorted on it)
    * into that doc_id's row. Reads a row completely before advancing: the
    * input reuses its row objects. */
  private final class Signer(in: Iterator[InternalRow], k: Int, a: Array[Long],
                             b: Array[Long], wide: Boolean) extends Iterator[Row] {
    private var cur: InternalRow = if (in.hasNext) in.next() else null
    private var out: Option[Row] = None

    private def idOf(r: InternalRow): java.lang.Long =
      if (r.isNullAt(0)) null else r.getLong(0)

    override def hasNext: Boolean = {
      while (out.isEmpty && cur != null) {
        val id = idOf(cur)
        val doc = new Doc(k, a, b, wide)
        while (cur != null && idOf(cur) == id) {
          if (!cur.isNullAt(1)) doc.add(cur.getArray(1))
          cur = if (in.hasNext) in.next() else null
        }
        out = doc.row(id)
      }
      out.nonEmpty
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted signer")
      val r = out.get
      out = None
      r
    }
  }
}
