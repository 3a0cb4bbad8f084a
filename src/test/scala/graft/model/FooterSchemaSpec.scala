package graft.model

import java.nio.file.Files

import graft.{JobCount, SparkSpec}
import graft.graph.EdgeTier
import graft.serve.Caches

/** [[Tables.parquet]] takes the schema from one footer read on the driver
  * and must agree with Spark's own schema inference, without a Spark job,
  * on every kind of parquet input the engine reads: the fixture tables
  * (single files, including the timestamp encodings), Spark-written
  * multi-part directories with `_SUCCESS`, and the standing edge tier. */
class FooterSchemaSpec extends SparkSpec {

  private def parity(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val (footer, jobs) = JobCount(spark)(Tables.parquet(spark, path).schema)
    assert(footer == inferred, s"schema differs at $path")
    assert(jobs == 0, s"footer schema of $path ran $jobs Spark jobs")
  }

  test("every fixture table, timestamp tables included") {
    Tables.names.foreach(n => parity(s"$sf/$n.parquet"))
    // the timestamp tables still normalize on top of the footer schema
    assert(Tables.orders(spark, sf).schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(Tables.events(spark, sf).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("a Spark-written multi-part directory with _SUCCESS") {
    val dir = Files.createTempDirectory("footer-multipart").toString
    Tables.orders(spark, sf).repartition(3).write.mode("overwrite").parquet(s"$dir/orders")
    assert(new java.io.File(s"$dir/orders/_SUCCESS").isFile)
    parity(s"$dir/orders")
    // a Caches.write output (coalesced to one part) reads back the same rows
    Caches.write(Tables.customer(spark, sf), s"$dir/cache")
    parity(s"$dir/cache")
    val cached = Caches.read(spark, s"$dir/cache", Seq("c_custkey", "c_name"))
    assert(cached.count() == Tables.customer(spark, sf).count())
  }

  test("the edge tier's directories") {
    def tierDir(df: org.apache.spark.sql.DataFrame) =
      new org.apache.hadoop.fs.Path(df.inputFiles.head).getParent.toString
    parity(tierDir(EdgeTier.coOccurrence(spark, sf)))
    parity(tierDir(EdgeTier.undirected(spark, sf)))
  }

  test("a missing or empty path fails with IllegalArgumentException") {
    val dir = Files.createTempDirectory("footer-empty").toString
    val missing = intercept[IllegalArgumentException] {
      Tables.parquet(spark, s"$dir/no_such_table")
    }
    assert(missing.getMessage.contains("no_such_table"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/_SUCCESS"))
    val empty = intercept[IllegalArgumentException](Tables.parquet(spark, dir))
    assert(empty.getMessage.contains(dir))
  }
}
