package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{Degrees, Edges, PageRankOp}
import graft.ops.Aggregations.{dsum, r4}

/** The reference's domain pipeline, verbatim semantics, over a videos table
  * (schema SURVEY.md §1.2 — produced by [[graft.ingest.Ingest.typedVideos]]).
  *
  * These wrappers pin the EXACT constants the reference computes with:
  * length buckets split at 240 s and 1200 s
  * (`YoutubeNetworkAgg_Final.py:190-194`, ASCII labels per SURVEY §7.4.7),
  * view buckets at 1k/10k/100k/1M (`:228-234`), category stats ordered by
  * count desc (`:163-179`), PageRank vertex filter `size(related) >= 5`
  * with resetProb 0.15 × 10 iterations (`PageRank_Spark_v5.py:61,102`).
  * The generic operators they delegate to are oracle-tested on the TPC-H
  * fixtures; these specs pin the domain constants on reference-shaped data
  * (FIXTURES.md §B1 boundary values).
  */
object YouTube {

  /** Category statistics (`run_netagg_job.py:82-97`). */
  def categoryStats(videos: DataFrame): DataFrame =
    videos
      .groupBy(col("category"))
      .agg(
        count(lit(1)).as("num_videos"),
        r4(avg(col("views"))).as("avg_views"),
        max(col("views")).as("max_views"),
        r4(avg(col("length"))).as("avg_length"),
        r4(avg(col("rate"))).as("avg_rating"))
      .orderBy(col("num_videos").desc, col("category"))

  /** Length buckets: short < 240 s ≤ medium < 1200 s ≤ long
    * (`YoutubeNetworkAgg_Final.py:190-194`). */
  def lengthBuckets(videos: DataFrame): DataFrame =
    videos
      .withColumn("length_bucket",
        when(col("length") < 240, "short_lt_4min")
          .when(col("length") < 1200, "medium_4_20min")
          .otherwise("long_ge_20min"))
      .groupBy(col("length_bucket"))
      .agg(
        count(lit(1)).as("num_videos"),
        r4(avg(col("views"))).as("avg_views"),
        max(col("views")).as("max_views"))
      .orderBy(col("length_bucket"))

  /** View buckets: <1k, 1k–10k, 10k–100k, 100k–1M, ≥1M
    * (`YoutubeNetworkAgg_Final.py:228-234`). */
  def viewBuckets(videos: DataFrame): DataFrame =
    videos
      .withColumn("views_bucket",
        when(col("views") < 1000, "a_lt_1k")
          .when(col("views") < 10000, "b_1k_10k")
          .when(col("views") < 100000, "c_10k_100k")
          .when(col("views") < 1000000, "d_100k_1m")
          .otherwise("e_ge_1m"))
      .groupBy(col("views_bucket"))
      .agg(count(lit(1)).as("num_videos"))
      .orderBy(col("views_bucket"))

  /** Global view stats — returned, not dropped (reference bug §7.4.6e:
    * `run_netagg_job.py:169-173` computed these then lost them). */
  def viewStats(videos: DataFrame): DataFrame =
    videos.agg(
      count(lit(1)).as("num_videos"),
      r4(avg(col("views"))).as("avg_views"),
      r4(stddev(col("views"))).as("stddev_views"),
      percentile_approx(col("views"), lit(0.5), lit(10000)).as("median_views"),
      percentile_approx(col("views"), lit(0.9), lit(10000)).as("p90_views"),
      max(col("views")).as("max_views"))

  /** Edge list from the `related` array: explode_outer, null-drop,
    * self-loop removal, original ids kept (`YoutubeNetworkAgg_Final.py:
    * 85-103` — the UNFILTERED graph constructor of SURVEY §7.4.3). */
  def relatedEdges(videos: DataFrame): DataFrame =
    videos
      .select(col("id").as("src"), explode_outer(col("related")).as("dst"))
      .na.drop(Seq("dst"))
      .filter(col("src") =!= col("dst"))

  /** Degree analytics bundle (`run_netagg_job.py:17-72`): histograms +
    * top-20 by degree with category/views enrichment. */
  def degreeReport(videos: DataFrame): Map[String, DataFrame] = {
    val edges = relatedEdges(videos)
    val enriched = videos.select(col("id"), col("category"), col("views"))
    Map(
      "out_degree_hist" -> Degrees.outDegreeHistogram(edges).limit(20),
      "in_degree_hist" -> edges.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("inDegree"))
        .groupBy(col("inDegree")).agg(count(lit(1)).as("num_vertices"))
        .orderBy(col("inDegree")).limit(20),
      "top_by_out_degree" -> Degrees.enrichWithOutDegree(enriched, edges)
        .orderBy(col("outDegree").desc, col("id")).limit(20),
      // no broadcast hint: inDegrees is vertex-cardinality (unbounded at
      // scale) — AQE broadcasts it only when measured-small
      "top_by_in_degree" -> enriched
        .join(Degrees.inDegrees(edges), Seq("id"), "left")
        .na.fill(0, Seq("inDegree"))
        .orderBy(col("inDegree").desc, col("id")).limit(20))
  }

  /** The reference's FILTERED PageRank (`PageRank_Spark_v5.py:61-115`):
    * vertices = videos with ≥5 related; edges into the filtered set only
    * (GraphFrames drop-unknown-endpoint semantics); 0.15 / 10 iterations;
    * top-K with uploader enrichment in the cache schema
    * `{rank, ID, influence_score, uploader}`. */
  def influencers(spark: SparkSession, videos: DataFrame, k: Int = 500): DataFrame = {
    val vertices = videos.filter(size(col("related")) >= 5).select(col("id"))
    val ranks = PageRankOp.runStringIds(vertices, relatedEdges(videos))
    // the cut and the rank numbers order on the ROUNDED score (id
    // tiebreak): full-precision pagerank carries last-ulp sum-order drift
    // across engines, so two rounded-equal vertices could otherwise swap
    // ranks between this and the oracle's unroll
    val top = ranks
      .withColumn("influence_score", round(col("pagerank"), 6))
      .orderBy(col("influence_score").desc, col("id")).limit(k)
    // k keys prune the videos scan and the join runs on the driver over
    // ≤k rows — never the full videos table (7.7M rows at reference
    // scale); the local result keeps the top-k order, numbered on the driver
    PageRankOp.numbered(graft.ops.Joins.enrichWithPrunedDim(
        top, videos.select(col("id"), col("uploader")), "id"))
      .select(col("rank"), col("id").as("ID"), col("influence_score"), col("uploader"))
  }

  /** Demo main: XML crawl file → typed ingest → full reference report set.
    * Usage: runMain graft.domain.YouTube <videos.xml> */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val videos = graft.ingest.Ingest.typedVideosFromXml(
      graft.ingest.Ingest.readVideosXml(spark, args.head)).cache()
    println(s"videos: ${videos.count()}")
    categoryStats(videos).show(5, truncate = false)
    lengthBuckets(videos).show(truncate = false)
    viewBuckets(videos).show(truncate = false)
    influencers(spark, videos, k = 10).show(truncate = false)
    spark.stop()
  }
}
