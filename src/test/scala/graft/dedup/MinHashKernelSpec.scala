package graft.dedup

import graft.{JobCount, SparkSpec}
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The per-document kernel behind [[Dedup.minhashNearDups]] and
  * [[Dedup.minhashSignatures]] publishes exactly the signatures and
  * shingle sets of the aggregate form ([[MinHashReference]] over
  * [[Dedup.shingleRows]]) for both hash families, on edge inputs and on
  * the sf0.01 documents; the near-dup rows do not depend on the shuffle
  * partition count; and the job count on the sf0.01 fixture is pinned. */
class MinHashKernelSpec extends SparkSpec {

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private lazy val sf001 = s"${new java.io.File(sf).getParent}/sf0.01"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true)))

  /** Zero-token rows, a row shorter than k, a repeated doc_id, two rows
    * with a null doc_id, null text, non-ASCII text, and a near-duplicate
    * pair so the band join has candidates. */
  private lazy val edge: DataFrame = spark.createDataFrame(java.util.Arrays.asList(Seq[(java.lang.Long, String)](
    (1L, ""),
    (2L, "   \t "),
    (3L, "ab cd"),
    (4L, "a b c"),
    (4L, "x y z w"),
    (null, "p q r s"),
    (null, "q r s t"),
    (5L, null),
    (6L, "Straße İstanbul ΟΔΟΣ ǅemal naïve 😀 café"),
    (7L, "the quick brown fox jumps over the lazy dog today"),
    (8L, "the quick brown fox jumps over the lazy dog again"),
    (9L, "b c x y z")
  ).map { case (id, t) => Row(id, t) }: _*), schema)

  private def sf001Docs: DataFrame = Tables.documents(spark, sf001)

  private type Sigs = Map[Option[Long], (Seq[Long], Set[String])]

  private def id(r: Row): Option[Long] = if (r.isNullAt(0)) None else Some(r.getLong(0))

  private def kernel(docs: DataFrame, numPerm: Int, wide: Boolean): Sigs =
    MinHashKernel.signatures(docs, 3, numPerm, wide).collect().map(r =>
      id(r) -> (r.getSeq[Long](1), r.getSeq[String](2).toSet)).toMap

  private def reference(docs: DataFrame, numPerm: Int, wide: Boolean): Sigs = {
    val rows = Dedup.shingleRows(docs, 3)
    val sigs = MinHashReference.minhashSignaturesFromRows(rows, numPerm, wide)
      .collect().map(r => id(r) -> r.getSeq[Long](1)).toMap
    val sets = MinHashReference.shingleSets(rows)
      .collect().map(r => id(r) -> r.getSeq[String](1).toSet).toMap
    assert(sigs.keySet == sets.keySet)
    sigs.map { case (k, s) => k -> (s, sets(k)) }
  }

  private def assertMatchesReference(docs: DataFrame): Unit =
    for (wide <- Seq(false, true); numPerm <- Seq(32, 64)) {
      val got = kernel(docs, numPerm, wide)
      val want = reference(docs, numPerm, wide)
      assert(got.nonEmpty)
      assert(got.keySet == want.keySet, s"wide=$wide numPerm=$numPerm: doc_ids differ")
      got.foreach { case (k, (sig, sh)) =>
        assert(sig.size == numPerm)
        assert(sh == want(k)._2, s"wide=$wide numPerm=$numPerm doc $k: shingle sets differ")
        assert(sig == want(k)._1, s"wide=$wide numPerm=$numPerm doc $k: signatures differ")
      }
    }

  test("edge fixture: signatures and shingle sets equal the reference, both families") {
    assertMatchesReference(edge)
  }

  test("edge fixture: per-row shingles, the empty and the shorter-than-k rows") {
    val got = kernel(edge, 32, wide = false)
    // zero-token rows and null text have no shingle and no row
    assert(!got.contains(Some(1L)) && !got.contains(Some(2L)) && !got.contains(Some(5L)))
    assert(got(Some(3L))._2 == Set("ab cd"))
    // a repeated doc_id unions its rows' own shingles, none across rows
    assert(got(Some(4L))._2 == Set("a b c", "x y z", "y z w"))
    assert(got(None)._2 == Set("p q r", "q r s", "r s t"))
    // 7 non-ASCII tokens (İ lowers to two chars, the emoji is one token)
    assert(got(Some(6L))._2.size == 5)
  }

  test("sf0.01 documents: signatures and shingle sets equal the reference, both families") {
    assertMatchesReference(sf001Docs)
  }

  test("minhashSignatures publishes the kernel's signatures") {
    val sigs = Dedup.minhashSignatures(edge, numPerm = 32)
    assert(sigs.columns.toSeq == Seq("doc_id", "signature"))
    assert(sigs.collect().map(r => id(r) -> r.getSeq[Long](1)).toMap ==
      reference(edge, 32, wide = false).map { case (k, v) => k -> v._1 })
  }

  test("identical near-dup rows at 1, 4 and 16 shuffle partitions, the setting restored") {
    val prev = spark.conf.get(PartitionsKey)
    val runs = try Seq(1, 4, 16).map { p =>
      spark.conf.set(PartitionsKey, p.toString)
      p -> Seq(false, true).flatMap(w =>
        Dedup.minhashNearDups(sf001Docs, wide = w).collect().map(_.toString).toSeq)
    } finally spark.conf.set(PartitionsKey, prev)
    assert(spark.conf.get(PartitionsKey) == prev)
    val (_, base) = runs.head
    assert(base.nonEmpty)
    runs.tail.foreach { case (p, got) =>
      assert(got == base, s"rows differ between 1 and $p shuffle partitions")
    }
  }

  test("job count on the sf0.01 fixture: the kernel pin, then the band join and verify") {
    val (n, jobs) = JobCount(spark)(Dedup.minhashNearDups(sf001Docs).collect().length)
    assert(n > 0)
    assert(jobs == 10, s"minhashNearDups ran $jobs jobs")
  }
}
