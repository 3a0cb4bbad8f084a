package graft.ml

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class RecommendSpec extends SparkSpec {

  test("ALS pipeline: structural invariants on sf0.001") {
    val triples = Recommend.ratingTriples(Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    // full sample at tiny scale so the user subset is non-trivial
    val recs = Recommend.recommendForUsers(spark, triples,
      nUsers = 20, nRecs = 5, sampleFraction = 1.0).cache()
    assert(recs.count() == 20)
    // every user gets exactly 5 recommendations, all resolved to real part keys
    val sizes = recs.select(size(col("recommendations"))).distinct().collect().map(_.getInt(0)).toSet
    assert(sizes == Set(5))
    val nullKeys = recs.filter(col("userKey").isNull ||
      exists(col("recommendations"), _.isNull)).count()
    assert(nullKeys == 0)
  }

  test("single-pass indexer labels == StringIndexer.fit labels (gate data + frequency ties)") {
    import org.apache.spark.ml.feature.StringIndexer
    // the equivalence proof for the r17 single-pass indexer (VERDICT r16
    // #6): identical label arrays ⇒ identical StringIndexerModel ⇒
    // byte-identical userId/itemId assignment ⇒ the ALS factor pipeline
    // sees the same input as the double-fit version.
    val triples = Recommend.ratingTriples(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf))
      .na.drop(Seq("userKey", "itemKey", "rating")).cache()
    val (um, im) = Recommend.fitIndexersSinglePass(triples)
    val uf = new StringIndexer().setInputCol("userKey").setOutputCol("userId")
      .fit(triples)
    val itf = new StringIndexer().setInputCol("itemKey").setOutputCol("itemId")
      .fit(triples)
    assert(um.labels.toSeq == uf.labels.toSeq, "user labels diverge from fit")
    assert(im.labels.toSeq == itf.labels.toSeq, "item labels diverge from fit")
    triples.unpersist()
    // synthetic frequency ties: fit breaks count ties by label ASC —
    // frequencyDescLabels must match exactly
    import spark.implicits._
    val ties = Seq("b", "b", "a", "a", "z", "c").toDF("userKey")
      .withColumn("itemKey", col("userKey")).withColumn("rating", lit(1.0))
    val (um2, _) = Recommend.fitIndexersSinglePass(ties)
    val uf2 = new StringIndexer().setInputCol("userKey").setOutputCol("userId")
      .fit(ties)
    assert(um2.labels.toSeq == uf2.labels.toSeq)
    assert(um2.labels.toSeq == Seq("a", "b", "c", "z"))
  }

  test("single-pass indexer labels == StringIndexer.fit labels on long user and int item keys") {
    import org.apache.spark.ml.feature.StringIndexer
    import spark.implicits._
    // numeric keys index by their string form: users 10, 9 and 2 tie on
    // count and sort as the strings "10" < "2" < "9"
    val triples = Seq((10L, 7), (9L, 7), (10L, 300), (9L, 41), (2L, 300), (2L, 7))
      .toDF("userKey", "itemKey").withColumn("rating", lit(1.0))
    val (um, im) = Recommend.fitIndexersSinglePass(triples)
    val uf = new StringIndexer().setInputCol("userKey").setOutputCol("userId")
      .fit(triples)
    val itf = new StringIndexer().setInputCol("itemKey").setOutputCol("itemId")
      .fit(triples)
    assert(um.labels.toSeq == uf.labels.toSeq)
    assert(im.labels.toSeq == itf.labels.toSeq)
    assert(um.labels.toSeq == Seq("10", "2", "9"))
    assert(im.labels.toSeq == Seq("7", "300", "41"))
  }

  test("frequencyDescLabels: count desc, ties by label asc (the fit sort contract)") {
    val got = Recommend.frequencyDescLabels(
      Seq("x" -> 2L, "m" -> 5L, "a" -> 2L, "q" -> 9L)).toSeq
    assert(got == Seq("q", "m", "a", "x"))
  }

  test("ratingTriples aggregates quantity per (customer, part)") {
    import spark.implicits._
    val orders = Seq((1L, 7L), (2L, 7L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((1L, 100L, 2.0), (2L, 100L, 3.0), (2L, 200L, 1.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity")
    val got = Recommend.ratingTriples(orders, li)
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("7", "100", 5.0), ("7", "200", 1.0)))
  }
}
