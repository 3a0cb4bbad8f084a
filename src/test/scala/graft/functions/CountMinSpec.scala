package graft.functions

import graft.SparkSpec
import graft.model.Tables
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def tokens = Tables.documents(spark, sf)
    .select(explode(TextAnalysis.tokens(col("text"))).as("term"))

  test("estimates never undercount and respect the N/w error bound") {
    val toks = tokens.cache()
    val n = toks.count()
    val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("exact"))
    val sk = CountMin.sketch(toks, "term", d = 4, w = 1024)
    val joined = CountMin.estimate(sk, exact, "term", d = 4, w = 1024)
      .join(exact, Seq("term"))
      .select(col("term"), col("exact"), col("cms_estimate")).cache()
    assert(joined.filter(col("cms_estimate") < col("exact")).count() == 0,
      "a Count-Min estimate undercounted")
    // the classic bound: overestimate ≤ e·N/w with prob 1−(1/2)^d — at
    // d=4 a fixture-wide MAX over the full vocabulary stays comfortably
    // under 3·N/w (loose, deterministic: the hashes are fixed)
    val worst = joined
      .select(max(col("cms_estimate") - col("exact"))).as[Long].head()
    assert(worst <= 3 * n / 1024,
      s"max overestimate $worst exceeds 3N/w = ${3 * n / 1024}")
    toks.unpersist(); joined.unpersist()
    ()
  }

  test("sketches are linear: shard sketches merge into the whole-stream sketch") {
    val docs = Tables.documents(spark, sf)
    def toksOf(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      docs.filter(f(col("doc_id")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val even = CountMin.sketch(toksOf(id => pmod(id, lit(2)) === 0), "term")
    val odd = CountMin.sketch(toksOf(id => pmod(id, lit(2)) === 1), "term")
    val merged = CountMin.merge(even, odd)
      .as[(Int, Long, Long)].collect().toSet
    val whole = CountMin.sketch(tokens, "term")
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == whole, "merged shard sketches diverge from the whole-stream sketch")
  }

  test("sketch size is bounded by d*w regardless of stream size") {
    val sk = CountMin.sketch(tokens, "term", d = 4, w = 64)
    assert(sk.count() <= 4 * 64)
  }

  test("standing sketch: version ledger makes redelivered batches exactly-once") {
    val stage = java.nio.file.Files
      .createTempDirectory("graft-cms-spec").toFile.getAbsolutePath
    try {
      val b0 = Seq("a", "b", "a").toDF("term")
      val b1 = Seq("b", "c").toDF("term")
      assert(CountMin.admit(spark, b0, "term", stage, batchId = 0L))
      assert(CountMin.admit(spark, b1, "term", stage, batchId = 1L))
      // at-least-once delivery: both batches replayed — no double counts
      assert(!CountMin.admit(spark, b0, "term", stage, batchId = 0L))
      assert(!CountMin.admit(spark, b1, "term", stage, batchId = 1L))
      val est = CountMin.estimate(
          CountMin.readStanding(spark, stage),
          Seq("a", "b", "c", "never-seen").toDF("term"), "term")
        .as[(String, Long)].collect().toMap
      // d=4 rows over w=1024 cells with 3 distinct keys: no collisions,
      // so the estimates are the exact counts (and absent keys read 0)
      assert(est == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "never-seen" -> 0L),
        s"standing-sketch estimates drifted: $est")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(stage)).deleteRecursively()
      ()
    }
  }

  test("standing sketch: each admission retires all but the last two complete versions") {
    val stage = java.nio.file.Files
      .createTempDirectory("graft-cms-retire").toFile.getAbsolutePath
    try {
      val batches = Seq(Seq("a", "b"), Seq("a"), Seq("c", "a"), Seq("b"), Seq("a", "d"))
      def versions = new java.io.File(stage).list()
        .filter(_.startsWith("v=")).sorted.toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        assert(CountMin.admit(spark, b.toDF("term"), "term", stage, batchId = i.toLong))
      }
      assert(versions == Seq("v=4", "v=5"), s"versions left: $versions")
      // a torn directory (no _SUCCESS) is neither read nor retired
      new java.io.File(s"$stage/v=2").mkdirs()
      assert(CountMin.admit(spark, Seq("e").toDF("term"), "term", stage, batchId = 5L))
      assert(versions == Seq("v=2", "v=5", "v=6"), s"versions left: $versions")
      assert(CountMin.currentVersion(spark, stage) == 6L)
      assert(!CountMin.admit(spark, Seq("a").toDF("term"), "term", stage, batchId = 4L))
      val est = CountMin.estimate(
          CountMin.readStanding(spark, stage),
          Seq("a", "b", "c", "d", "e").toDF("term"), "term")
        .as[(String, Long)].collect().toMap
      // five keys over d=4 rows of w=1024 cells: no collisions, so the
      // estimates are the exact counts over every admitted batch
      assert(est == (batches.flatten :+ "e").groupBy(identity)
          .map { case (k, v) => k -> v.size.toLong },
        s"standing-sketch estimates drifted: $est")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(stage)).deleteRecursively()
      ()
    }
  }
}
