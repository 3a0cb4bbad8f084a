package graft.serve

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end serve-surface spec (VERDICT r8 "next" #6): the phase-2 form
  * semantics (`guiV5.py:649-710`) — clamped k, blank-field filters,
  * deterministic pagination, one-pass counts — and the schema-validated
  * cache read path, exercised against the reference-shaped fixture.
  */
case class AV(id: String, uploader: String, category: String, age: Int,
              length: Int, views: Long, rate: Double, ratings: Long,
              comments: Long, related: Seq[String])

class ApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val videos: DataFrame = (1 to 50).map { i =>
    AV(f"v$i%02d", s"u$i", if (i % 3 == 0) "Music" else "Comedy", 100,
      i * 30, i * 100L, 4.0, 10, 1, Seq())
  }.toDF()

  test("empty form = no filter: hits == total, page is global top-k") {
    val (total, hits, page) = Api.frequencySearch(videos, Api.SearchRequest(k = 5))
    assert(total == 50 && hits == 50)
    val got = page.select("id").as[String].collect().toSeq
    assert(got == Seq("v50", "v49", "v48", "v47", "v46")) // views desc
  }

  test("all form fields bind: category + length band + min views conjoin") {
    val req = Api.SearchRequest(category = Some("Music"),
      minLength = Some(300), maxLength = Some(1200), minViews = Some(1500))
    val (total, hits, page) = Api.frequencySearch(videos, req)
    // Music = multiples of 3; length 300..1200 → i in 10..40; views ≥ 1500 → i ≥ 15
    val expect = (15 to 40).filter(_ % 3 == 0)
    assert(total == 50 && hits == expect.size)
    assert(page.count() == expect.size)
  }

  test("blank category is ignored, like the GUI's empty text input") {
    val (_, hits, _) = Api.frequencySearch(videos, Api.SearchRequest(category = Some("")))
    assert(hits == 50)
  }

  test("zero-match filter serves an empty page, not an error") {
    val (_, hits, page) =
      Api.frequencySearch(videos, Api.SearchRequest(category = Some("NoSuch")))
    assert(hits == 0 && page.isEmpty)
  }

  test("k clamps to [1, MaxK] and page depth to MaxPage") {
    assert(TopK.clampK(0) == 1)
    assert(TopK.clampK(-7) == 1)
    assert(TopK.clampK(1000000) == TopK.MaxK)
    assert(Api.clampPage(-1) == 0)
    assert(Api.clampPage(1000000) == Api.MaxPage)
    // a hostile k cannot make the page unbounded
    val page = Api.searchPage(videos, Api.SearchRequest(k = Int.MaxValue))
    assert(page.count() == 50) // all rows, but bounded by MaxK not k
  }

  test("pagination is deterministic and covers without overlap") {
    val p0 = Api.searchPage(videos, Api.SearchRequest(k = 20, page = 0))
      .select("id").as[String].collect().toSeq
    val p1 = Api.searchPage(videos, Api.SearchRequest(k = 20, page = 1))
      .select("id").as[String].collect().toSeq
    val p2 = Api.searchPage(videos, Api.SearchRequest(k = 20, page = 2))
      .select("id").as[String].collect().toSeq
    assert(p0.size == 20 && p1.size == 20 && p2.size == 10)
    assert((p0 ++ p1 ++ p2).distinct.size == 50) // no dup, no skip
    // stable across re-execution
    val p1again = Api.searchPage(videos, Api.SearchRequest(k = 20, page = 1))
      .select("id").as[String].collect().toSeq
    assert(p1 == p1again)
  }

  test("counts run as ONE aggregate over a pruned scan (single pass)") {
    val req = Api.SearchRequest(minViews = Some(2000))
    val df = Api.counts(videos, req)
    val row = df.head()
    assert(row.getLong(0) == 50 && row.getLong(1) == 31)
    // one aggregate, no join, no second scan branch
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join") && !p.contains("Union"),
      s"counts must be a single-scan aggregate:\n$p")
  }

  test("cache round-trip: write report, serve a validated re-slice") {
    val dir = Files.createTempDirectory("api-cache").toString
    val report = graft.domain.YouTube.categoryStats(videos)
    Caches.write(report, s"$dir/category_stats")
    val page = Api.cachedReportPage(spark, s"$dir/category_stats",
      requiredColumns = Seq("category", "num_videos", "avg_views"),
      slice = Seq(col("num_videos") > 10),
      orderBy = Seq(col("num_videos").desc), k = 10)
    val got = page.select("category", "num_videos")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq("Comedy" -> 34L, "Music" -> 16L))
  }

  test("stale cache (missing required column) fails fast, serves nothing") {
    val dir = Files.createTempDirectory("api-cache-stale").toString
    Caches.write(videos.select("id", "views"), s"$dir/wrong")
    val e = intercept[IllegalArgumentException] {
      Api.cachedReportPage(spark, s"$dir/wrong",
        requiredColumns = Seq("category", "num_videos"))
    }
    assert(e.getMessage.contains("category"))
  }

  test("orders twin: page + counts match a hand-computed slice") {
    val orders = graft.model.Tables.orders(spark, sf)
    val page = Api.ordersSearchPage(orders, status = Some("O"),
      minPrice = Some(50000.0), k = 10, page = 1)
    val all = orders.filter(col("o_orderstatus") === "O" && col("o_totalprice") >= 50000.0)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey").as[Long].collect().toSeq
    val got = page.select("o_orderkey").as[Long].collect().toSeq
    assert(got == all.slice(10, 20))
    val c = Api.ordersSearchCounts(orders, status = Some("O"),
      minPrice = Some(50000.0)).head()
    assert(c.getLong(0) == orders.count() && c.getLong(1) == all.size)
  }
}
