package graft.ops

import java.nio.file.Files

import graft.{JobCount, SparkEntry, SparkSpec}
import graft.model.Tables
import graft.serve.{Api, Caches}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** [[Joins.enrichWithPrunedDim]]: SQL left-join semantics from a key-pruned
  * dim scan joined on the driver, the job counts of the serve actions that
  * use it, and the k clamp at the ops top-K entry points. */
class EnrichSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dim = Seq[(java.lang.Long, String)](
    (1L, "a"), (2L, "b1"), (2L, "b2"), (3L, "c"), (null, "null-key"))
    .toDF("key", "name")

  private def enrich(small: Seq[(java.lang.Long, Int)]) =
    Joins.enrichWithPrunedDim(small.toDF("key", "score"), dim, "key")

  test("left-join semantics: nulls, duplicates, fan-out, unmatched rows, order") {
    val out = enrich(Seq((3L, 30), (null, 0), (2L, 20), (9L, 90), (3L, 31)))
    assert(out.columns.toSeq == Seq("key", "score", "name"))
    assert(out.collect().toSeq == Seq(
      Row(3L, 30, "c"),
      Row(null, 0, null),      // a null key never matches, not even a null dim key
      Row(2L, 20, "b1"),       // several dim rows per key multiply the row
      Row(2L, 20, "b2"),
      Row(9L, 90, null),       // unmatched: null dim columns
      Row(3L, 31, "c")))       // duplicate keys in small each match
    assert(out.schema("name").nullable)
  }

  test("same rows as Spark's USING left join") {
    val small = Seq[(java.lang.Long, Int)]((1L, 1), (2L, 2), (null, 3), (7L, 4), (2L, 5))
      .toDF("key", "score")
    val spark0 = small.join(dim, Seq("key"), "left")
    val got = Joins.enrichWithPrunedDim(small, dim, "key")
    assert(got.schema == spark0.schema)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      spark0.collect().map(_.toString).sorted.toSeq)
  }

  test("the key is the first column, then small's, then the dim's") {
    val small = Seq((10, 2L, "x")).toDF("score", "key", "tag")
    val out = Joins.enrichWithPrunedDim(small, dim, "key")
    assert(out.columns.toSeq == Seq("key", "score", "tag", "name"))
    assert(out.collect().toSeq == Seq(Row(2L, 10, "x", "b1"), Row(2L, 10, "x", "b2")))
  }

  test("empty small: empty result, dim schema, no dim scan") {
    val (out, jobs) = JobCount(spark) {
      enrich(Nil).collect()
    }
    assert(out.isEmpty)
    assert(jobs <= 1, s"expected only small's collect, got $jobs jobs")
    assert(enrich(Nil).columns.toSeq == Seq("key", "score", "name"))
  }

  test("a key-type mismatch fails loudly") {
    val small = Seq((1, 5)).toDF("key", "score") // int key against a bigint dim
    val e = intercept[IllegalArgumentException] {
      Joins.enrichWithPrunedDim(small, dim, "key")
    }
    assert(e.getMessage.contains("key"))
  }

  test("binary keys match by content") {
    val bytes = Array[Byte](1, 2, 3)
    val small = Seq((bytes.clone(), 1)).toDF("key", "score")
    val bdim = Seq((bytes.clone(), "hit")).toDF("key", "name")
    val out = Joins.enrichWithPrunedDim(small, bdim, "key").select("name")
    assert(out.as[String].collect().toSeq == Seq("hit"))
  }

  test("q_point_lookup equals the broadcast-join form it replaced, row for row") {
    val got = SparkEntry.queries("q_point_lookup")(spark, sf).collect().toSeq
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val top = orders.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
    val want = top.join(customer, top("o_custkey") === customer("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    assert(got.size == 20)
    assert(got == want)
  }

  test("k is clamped to [1, MaxK] at the ops top-K entry points") {
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val n = orders.count()
    assert(n > TopK.MaxK, "fixture must hold more orders than MaxK")
    for (k <- Seq(0, -1)) {
      assert(TopK.topOrdersByPrice(orders, k).count() == 1, s"k = $k")
      assert(Joins.enrichTopOrders(orders, customer, k).count() == 1, s"k = $k")
    }
    assert(TopK.topOrdersByPrice(orders, 1000000).count() == TopK.MaxK)
    assert(Joins.enrichTopOrders(orders, customer, 1000000).count() == TopK.MaxK)
    // in-range k is untouched: the registry's k = 100 and k = 20 callers
    assert(SparkEntry.queries("q_topk_orders")(spark, sf).count() == 100)
    assert(SparkEntry.queries("q_point_lookup")(spark, sf).count() == 20)
  }

  test("job counts: enriched top-K <= 2, report page 1, table load 0") {
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val (rows, enrichJobs) = JobCount(spark) {
      Joins.enrichTopOrders(orders, customer, 20).collect()
    }
    assert(rows.length == 20)
    assert(enrichJobs <= 2, s"enrichTopOrders ran $enrichJobs jobs")

    val dir = Files.createTempDirectory("enrich-report").toString
    Caches.write(Aggregations.priceBuckets(orders), s"$dir/view_buckets")
    val (page, reportJobs) = JobCount(spark) {
      Api.cachedReportPage(spark, s"$dir/view_buckets",
        requiredColumns = Seq("price_bucket", "num_orders"),
        orderBy = Seq(col("price_bucket")), k = Api.DefaultK).collect()
    }
    assert(page.nonEmpty)
    assert(reportJobs == 1, s"cachedReportPage ran $reportJobs jobs")

    val (_, loadJobs) = JobCount(spark) {
      Tables.names.foreach(Tables.load(spark, sf, _))
    }
    assert(loadJobs == 0, s"Tables.load ran $loadJobs jobs")
  }
}
