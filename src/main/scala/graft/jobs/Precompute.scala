package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{Degrees, PageRankOp}
import graft.ml.Recommend
import graft.model.Tables
import graft.ops.Aggregations
import graft.serve.Caches

/** The reference's two-phase architecture, end-to-end: its four batch jobs
  * (`run_pagerank_job.py`, `run_netagg_job.py`, `run_alsrecs_job.py`, plus
  * the GUI's interactive query layer reading the caches —
  * `Milestone4SourceCode.zip!guiV5.py:59-78`) re-expressed as composed
  * pipelines over this engine's operators, each materializing the cache
  * schema documented in SURVEY.md §1.4. A user of the reference runs these
  * in Phase 1 and serves Phase 2 from [[graft.serve.Caches.read]].
  *
  * One deliberate divergence (SURVEY.md §7.4.6e): the reference computes
  * global view stats and then silently drops them from its cache; here they
  * are written.
  */
object Precompute {

  /** run_pagerank_job: rank → top-K → pruned-dim enrichment → cache
    * `{rank, ID, influence_score, uploader}` (`run_pagerank_job.py:135-140`). */
  def pagerankJob(spark: SparkSession, sfDir: String, outDir: String, k: Int = 500): DataFrame = {
    val dim = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("id"), col("p_brand").as("uploader"))
    // probe the standing edge tier (EdgeTier): the nightly jobs share the
    // same co-occurrence graph the report queries read
    val result = PageRankOp.topInfluencers(
        spark, graft.graph.EdgeTier.coOccurrence(spark, sfDir), dim, k)
      .select(col("rank"), col("id").cast("string").as("ID"),
        col("influence_score"), col("uploader"))
    Caches.write(result, s"$outDir/pagerank_cache")
    result
  }

  /** run_netagg_job: degree stats (4 tables), category stats, size buckets,
    * view stats — global AND buckets (`run_netagg_job.py:17-173`). */
  def netaggJob(spark: SparkSession, sfDir: String, outDir: String): Map[String, DataFrame] = {
    val li = Tables.lineitem(spark, sfDir).cache() // S6: one load, six consumers
    val edges = graft.graph.EdgeTier.coOccurrence(spark, sfDir)
    val vertices = Tables.part(spark, sfDir).select(col("p_partkey").as("id"), col("p_brand"))
    val out = Map(
      "degree_hist" -> Degrees.outDegreeHistogram(edges).limit(20),
      "top_by_degree" -> Degrees.enrichWithOutDegree(vertices, edges)
        .orderBy(col("outDegree").desc, col("id")).limit(20),
      "category_stats" -> Aggregations.categoryStats(li).limit(50),
      "size_buckets" -> Aggregations.quantityBuckets(li),
      "view_stats_global" -> Aggregations.globalStatsApprox(li),
      "view_buckets" -> Aggregations.priceBuckets(Tables.orders(spark, sfDir)))
    out.foreach { case (name, df) => Caches.write(df, s"$outDir/$name") }
    li.unpersist(blocking = false)
    out
  }

  /** run_alsrecs_job: triples → seeded sample → index → ALS → recs cache
    * `{userId, userKey, recommendations}` (`run_alsrecs_job.py:142-156`). */
  def alsJob(spark: SparkSession, sfDir: String, outDir: String,
             nUsers: Int = 500, sampleFraction: Double = 0.10): DataFrame = {
    val result = Recommend.recommendForUsers(
      spark,
      Recommend.ratingTriples(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)),
      nUsers = nUsers, sampleFraction = sampleFraction)
    Caches.write(result, s"$outDir/als_recs_cache")
    result
  }

  /** Phase 1 driver — all caches. */
  def runAll(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    pagerankJob(spark, sfDir, outDir)
    netaggJob(spark, sfDir, outDir)
    alsJob(spark, sfDir, outDir, nUsers = 100, sampleFraction = 1.0)
  }
}
