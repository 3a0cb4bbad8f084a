package graft.graph

import graft.Tier.PinOps
import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
import org.apache.spark.graphx.lib.{PageRank => GxPageRank}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank — SURVEY.md §2.8 G3 (`PageRank_Spark_v5.py:102`:
  * `g.pageRank(resetProbability=0.15, maxIter=10)`).
  *
  * Semantics preserved from the reference (SURVEY.md §2.8):
  * fixed iteration count (not tolerance-based), resetProb 0.15, self-loops
  * removed upstream, duplicate edges kept (multi-edges weight the walk),
  * GraphFrames/GraphX normalization (scores sum ≈ vertex count, not 1.0).
  *
  * Catalyst cannot express a 10-step iterative fixpoint, so this is the one
  * operator that leaves the SQL layer: GraphX Pregel supersteps over the
  * edge RDD. String vertex ids are mapped to Long via `zipWithUniqueId`
  * (stable bijection, no collision risk — SURVEY.md §7.4.2) and joined back
  * after the run. Everything before and after the 10 supersteps stays in
  * DataFrame land so scans remain pruned/pushed.
  */
object PageRankOp {

  /** Core fixpoint, pure DataFrame: rank'(v) = resetProb + (1−resetProb) ·
    * Σ_{u→v} rank(u)/outDeg(u), `numIter` rounds from rank=1.0 — exactly
    * GraphX's static `PageRank.run` semantics (no dangling redistribution,
    * un-normalized reset term, multi-edge rows each carry weight), but
    * executed as Tungsten hash joins + aggregates instead of RDD Pregel:
    * columnar, codegen'd, AQE-planned. Benched 4–8× faster than the GraphX
    * leg on the same graph at sf0.1 (see [[runGraphX]], kept as the
    * cross-validation oracle).
    *
    * Scale notes: rank state is truncated each round with an eager
    * localCheckpoint — without it the 10-round join lineage makes the plan
    * exponentially expensive to analyze (on a cluster, prefer
    * `checkpoint()` to a reliable store for fault tolerance). The per-round
    * join broadcasts ranks while the vertex set is small; when both sides
    * are large it becomes a shuffle join on src — pre-partitioning the
    * weighted edge list by src and caching keeps its side of the exchange
    * reusable. Works for any id type (long, string — no id mapping). */
  def pageRank(vertices: DataFrame, edges: DataFrame,
               numIter: Int = 10, resetProb: Double = 0.15,
               init: Option[DataFrame] = None): DataFrame = {
    // `init` (id, rank) warm-starts the fixpoint from prior rank state
    // (see [[resumeLongIds]]). The transition weights come from ONE
    // window count over the src-partitioned edges (r16, guide §2.4
    // "share the exchange"): the former outDeg aggregate + equi-join +
    // repartition(src) spent two exchanges and a second full edge pass
    // to land in exactly the partitioning the window's single shuffle
    // already establishes — measured 0.44 s vs 1.13 s at sf0.1 (2.4M
    // edges, min of 3 interleaved reps). w = 1.0/count is bit-identical
    // to the join's value, so the rank recurrence is unchanged.
    val ew = edges.select(col("src"), col("dst"),
        (lit(1.0) / count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
          .as("w"))
      .cache()
    fixpointSumToN(vertices, ew, numIter, resetProb, "pagerank", init)
  }

  /** Weighted PageRank: rank'(v) = resetProb + (1−resetProb) ·
    * Σ_{u→v} rank(u) · w_uv / W_u with W_u = Σ_out w — the walk follows
    * edge WEIGHTS (repeat co-purchase strength) instead of treating every
    * edge equally; [[pageRank]] is the w ≡ 1 special case. Same fixpoint
    * scaffolding and sum-to-N normalization; only the transition matrix
    * changes. The gate feeds integer counts carried in doubles, so its
    * per-source weight sums are exact (order-independent below 2^53) and
    * both engines divide identical numerators by identical denominators.
    * FRACTIONAL weights are accepted but carry the standard float-sum
    * caveat (ADVICE r16): a partition-local sum over non-integral doubles
    * is accumulation-order-sensitive in the last ulp, and the round(6)
    * at the publish boundary only absorbs drift away from rounding
    * edges — an oracle-gated caller with fractional weights should
    * normalize or scale them to integers first. */
  def weightedPageRank(edges: DataFrame,
                       numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double").as("wt")).pinTier
    val verts = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    // per-source weight mass via ONE window sum over the src-partitioned
    // edges (the r16 pageRank ew rule — the join + repartition spent two
    // exchanges to reach the window's partitioning). Weights are integer
    // counts in doubles, so the window's partition-local sum equals the
    // old aggregate's bit-for-bit (exact below 2^53, any order); the
    // outw > 0 guard survives as a filter for the degenerate all-zero
    // source a caller could feed (the old inner join dropped it).
    val ew = e.select(col("src"), col("dst"), col("wt"),
        sum(col("wt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
          .as("outw"))
      .filter(col("outw") > 0.0)
      .select(col("src"), col("dst"), (col("wt") / col("outw")).as("w"))
      .cache()
    fixpointSumToN(verts, ew, numIter, resetProb, "wpagerank")
  }

  /** The shared rank fixpoint over a prepared transition-weight edge list
    * `ew` (src, dst, w with Σ_out w = 1 per non-sink source), followed by
    * the GraphX sum-to-N normalization. Runs eagerly (checkpoints + the
    * stats action), releasing `ew`'s cache before returning. */
  private def fixpointSumToN(vertices: DataFrame, ew: DataFrame,
                             numIter: Int, resetProb: Double,
                             tag: String,
                             init0: Option[DataFrame] = None): DataFrame = {
    // numIter == 0 is the documented graceful no-op (ADVICE r16: the r16
    // require() broke resumeLongIds(extraIter = 0) — a plausible "admit
    // edges, keep ranks" call that used to return the re-normalized init
    // state); the contribs-carried rounds below are skipped entirely and
    // the init state flows straight to the sum-to-N normalization,
    // exactly the pre-r16 zero-round semantics.
    require(numIter >= 0,
      s"fixpointSumToN: need numIter >= 0, got numIter=$numIter")
    // ONE eager materialization pins the vertex set AND initializes rank
    // state AND supplies the vertex count — the count() below reads pinned
    // partitions, so it is near-free instead of the extra full-lineage job
    // a separate verts.cache()+count() used to pay. A warm start (`init0`)
    // seeds known vertices from prior rank state; vertices the prior state
    // never saw start at the cold 1.0.
    val init = init0 match {
      case Some(r0) => vertices.select(col("id")).distinct()
        .join(r0.select(col("id"), col("rank").as("__r0")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__r0"), lit(1.0)).as("rank")).pinTier
      case None => vertices.select(col("id")).distinct()
        .select(col("id"), lit(1.0).as("rank")).pinTier
    }
    // Size the per-round rank-state partitioning to the vertex count, not
    // the session shuffle fan-out: 10 rounds × several stages of 32 tasks
    // over a few thousand rows is pure scheduler overhead (measured 45%
    // faster at sf0.1 with this); at real vertex counts the same formula
    // scales the parallelism back up (~100k vertices per partition).
    val nVerts = init.count()
    val sc = init.sparkSession.sparkContext
    val rankParts = math.max(1,
      math.min(sc.defaultParallelism, (nVerts / 100000L).toInt + 1))
    val verts = init.select(col("id"))
    var ranks = init.coalesce(rankParts)
    // Lineage is truncated every `checkpointEvery` rounds, not every round:
    // each eager checkpoint is a full materialize-and-pin job, and a 2–3-join
    // plan is still cheap for Catalyst to analyze — only the unbounded
    // 10-round nesting is not. Measured ~25% faster than per-round
    // checkpointing at sf0.1 with identical results.
    val checkpointEvery = 3
    // Rank state behind a localCheckpoint has UNKNOWN size statistics, so
    // left to itself Catalyst plans every round as a full shuffle join even
    // when the rank table is kilobytes. We KNOW the exact row count
    // (nVerts) and the state schema, so broadcast the rank/contribution
    // sides explicitly while their estimated bytes fit the configured
    // budget (StateBroadcast) — each round then runs map-side over the
    // cached weighted edges, and the only per-round shuffle left is the
    // contribution aggregate. At billion-vertex scale the same test keeps
    // the shuffle join; Stress forces that branch via the config every run.
    val bcastRankState = StateBroadcast.fits(init, nVerts, tag)
    def maybeBcast(df: DataFrame): DataFrame =
      if (bcastRankState) broadcast(df) else df
    // ONE join per round instead of two (r16): round i's rank is a pure
    // function of round i−1's CONTRIBUTION table — rank(u) = resetProb +
    // (1−resetProb)·contrib(u), with contrib(u) = 0 for vertices nobody
    // points at — so carrying the contribs as the round state lets the
    // next round's edge join apply that formula inline (LEFT join, the
    // coalesce(0) default standing in for the never-contributed
    // vertices) and the verts completion join runs ONCE after the last
    // round instead of once per round. Per-row arithmetic is the
    // identical expression composition (resetProb + c·…, then ·w), so
    // every partial product and sum is bit-for-bit the old recurrence's
    // (verified: final Σrank matched to the last printed ulp at sf0.1).
    // At scale this removes a vertex-sized exchange per round on the
    // shuffle branch, and the surviving join keys on src — the cached
    // weighted edges' standing partitioning (guide §2.4), so only the
    // (vertex-sized) contribs side moves. Round 1 consumes the caller's
    // init rank state directly (warm starts keep their semantics).
    if (numIter >= 1) {
      var contribs = ew
        .join(maybeBcast(ranks.withColumnRenamed("id", "src")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("w") * col("rank")).as("contrib"))
      for (i <- 2 to numIter) {
        if ((i - 1) % checkpointEvery == 0)
          contribs = contribs.coalesce(rankParts).pinTier
        contribs = ew
          .join(maybeBcast(contribs.withColumnRenamed("id", "src")),
            Seq("src"), "left")
          .select(col("dst"), (col("w") *
            (lit(resetProb) + lit(1.0 - resetProb)
              * coalesce(col("contrib"), lit(0.0)))).as("wc"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("wc")).as("contrib"))
      }
      contribs = contribs.coalesce(rankParts).pinTier
      ranks = verts
        .join(maybeBcast(contribs), Seq("id"), "left")
        .select(col("id"),
          (lit(resetProb) + lit(1.0 - resetProb) * coalesce(col("contrib"), lit(0.0)))
            .as("rank"))
    }
    ew.unpersist(blocking = false)
    // GraphX/GraphFrames normalize final scores to sum to the vertex count
    // (dangling vertices leak rank mass otherwise — SURVEY.md §2.8: top
    // reference score 442.8 ≫ 1 comes from exactly this normalization).
    val stats = ranks.agg(sum(col("rank")).as("s"), count(lit(1)).as("n")).head()
    val scale = stats.getLong(1).toDouble / stats.getDouble(0)
    // the fixpoint ran eagerly (checkpoints + the stats action); the only
    // explicit pin left to release is the weighted edge cache — vertex/rank
    // state lives in localCheckpoints, which the ContextCleaner reclaims
    // once the returned frame (whose lineage bottoms out at the final rank
    // checkpoint) is dropped.
    ranks.select(col("id"), (col("rank") * scale).as("pagerank"))
  }

  /** PageRank over an edge list with numeric ids (vertex set = edge
    * endpoints, mirroring GraphX `Graph.fromEdges`). One aggregate over
    * the pinned edge list yields the distinct endpoints; the transition
    * weights come from [[pageRank]]'s window count (r16 — the degree
    * table this used to pre-aggregate fed only the old ew join). */
  def runLongIds(spark: SparkSession, edges: DataFrame,
                 numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    // pinned, not cached: the edge lineage (often a co-occurrence self-join)
    // must compute exactly once, and the truncated lineage keeps the
    // 10-round plans small
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .pinTier
    val verts = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    pageRank(verts, e, numIter, resetProb)
  }

  /** INCREMENTAL PageRank — the admission path of the standing edge tier
    * completed (VERDICT r11 "next" #7): instead of re-running the full
    * 10-superstep fixpoint from uniform init after every edge admission,
    * warm-start from the PREVIOUS committed ranks (`prevRanks` —
    * (id, pagerank); vertices the old graph never saw start cold at 1.0)
    * and run `extraIter` fixed rounds over the new edge list, then
    * re-normalize sum-to-N. Cost ∝ extraIter/numIter of a full recompute
    * while the rank state stays within a small drift of it (the fixpoint
    * is a contraction with factor 1−resetProb per round; the spec pins
    * the observed bound, and q_pagerank_incremental's oracle unrolls this
    * exact recurrence — the warm start is deterministic, so it gets a
    * FULL oracle, not a tolerance promise). */
  def resumeLongIds(spark: SparkSession, edges: DataFrame,
                    prevRanks: DataFrame, extraIter: Int = 3,
                    resetProb: Double = 0.15): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .pinTier
    val verts = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    pageRank(verts, e, extraIter, resetProb,
      init = Some(prevRanks.select(col("id"), col("pagerank").as("rank"))))
  }

  /** Personalized PageRank: the teleport mass returns to a SEED SET
    * instead of every vertex — rank'(v) = resetProb·1[v∈S] + (1−resetProb)
    * ·Σ_{u→v} rank(u)/outDeg(u), rank₀ = 1[v∈S] — the standard
    * seed-relative relevance score ("what co-occurs with THESE parts",
    * "what does this community reach"), emitted raw (no sum-to-N
    * normalization: PPR mass legitimately decays through dangling
    * vertices, and the raw score IS the seed-affinity). Same fixpoint
    * scaffolding as [[pageRank]] (cached weighted edges, StateBroadcast-
    * guarded rank joins, lineage pinned every 3 rounds); the oracle
    * unrolls the identical recurrence with a seed-conditional reset term.
    * Returns the top-k by score with a rank column. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           numIter: Int = 10, resetProb: Double = 0.15,
                           k: Int = 100): DataFrame = {
    require(numIter >= 1,
      s"personalizedPageRank: need numIter >= 1, got numIter=$numIter")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long")).pinTier
    // transition weights from the single window count (the r16 pageRank
    // ew rule), with the SOURCE's seed flag riding the cached edge row —
    // one broadcast join at prep, so the per-round fold below needs no
    // seed lookup at all
    val ew = e.select(col("src"), col("dst"),
        (lit(1.0) / count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
          .as("w"))
      .join(broadcast(seeds.select(col("id").as("src"), lit(1).as("s"))),
        Seq("src"), "left")
      .select(col("src"), col("dst"), col("w"),
        coalesce(col("s"), lit(0)).cast("double").as("seed_src"))
      .cache()
    // seed flag rides the vertex state (one broadcast join, not per-round)
    val init = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
      .join(broadcast(seeds.select(col("id"), lit(1).as("s"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0)).cast("double").as("seed"))
      .pinTier
    val nVerts = init.count()
    val sc = init.sparkSession.sparkContext
    val stateParts = math.max(1,
      math.min(sc.defaultParallelism, (nVerts / 100000L).toInt + 1))
    val bcastState = StateBroadcast.fits(init, nVerts, "ppr")
    def mb(df: DataFrame): DataFrame = if (bcastState) broadcast(df) else df
    // one join per round (the r16 fixpointSumToN rule, seed-conditional
    // reset): round i−1's rank is resetProb·seed(u) + (1−resetProb)·
    // contrib(u) with contrib defaulting to 0, so the CONTRIBUTION table
    // is the round state and the vertex completion join runs once at the
    // end. rank₀ = 1[v∈S] = seed_src, so round 1 folds straight off the
    // cached edges with no state join at all.
    var contribs = ew
      .select(col("dst"), (col("w") * col("seed_src")).as("wc"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("wc")).as("contrib"))
    for (i <- 2 to numIter) {
      if ((i - 1) % 3 == 0) contribs = contribs.coalesce(stateParts).pinTier
      contribs = ew
        .join(mb(contribs.withColumnRenamed("id", "src")), Seq("src"), "left")
        .select(col("dst"), (col("w") *
          (lit(resetProb) * col("seed_src")
            + lit(1.0 - resetProb) * coalesce(col("contrib"), lit(0.0))))
          .as("wc"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("wc")).as("contrib"))
    }
    contribs = contribs.coalesce(stateParts).pinTier
    val ranks = init
      .join(mb(contribs), Seq("id"), "left")
      .select(col("id"),
        (lit(resetProb) * col("seed")
          + lit(1.0 - resetProb) * coalesce(col("contrib"), lit(0.0)))
          .as("rank"))
    ew.unpersist(blocking = false)
    val top = ranks
      .select(col("id"), round(col("rank"), 6).as("ppr"))
      .filter(col("ppr") > 0.0)
      .orderBy(col("ppr").desc, col("id"))
      .limit(k)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ppr").desc, col("id"))).cast("bigint"))
      .select(col("rank"), col("id"), col("ppr"))
  }

  /** GraphX Pregel leg — the reference's actual engine
    * (GraphFrames→GraphX). Kept as the independent implementation that
    * cross-validates [[pageRank]] in tests; the DataFrame path is the one
    * wired into queries (faster, columnar, no RDD detour). */
  def runGraphX(spark: SparkSession, edges: DataFrame,
                numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    val edgeRdd = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .map { case (s, d) => GxEdge(s, d, 1.0) }
    val graph = GxGraph.fromEdges(edgeRdd, defaultValue = 1.0,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    val ranks = GxPageRank.run(graph, numIter, resetProb).vertices
    val out = ranks.toDF("id", "pagerank")
    graph.unpersist(blocking = false)
    out
  }

  /** Explicit-vertex-set variant (`PageRank_Spark_v5.py:65-97`): vertices
    * are supplied explicitly (the reference filters to
    * `size(related) >= 5`); edges with endpoints outside the vertex set are
    * dropped (GraphFrames semantics — GraphX would silently auto-create the
    * missing vertices, SURVEY.md §7.4.3), enforced with two left-semi joins.
    * Isolated-but-declared vertices keep the resetProb floor. Id type is
    * whatever the caller supplies — run numeric ids as numeric: every
    * fixpoint round joins and re-aggregates on the id, and hashing an
    * 8-byte long beats hashing variable-length UTF8 on all of them (measured
    * ~30% of this query's cost at sf0.1); cast to display strings at the
    * output boundary, not here. */
  def runWithVertices(vertices: DataFrame, edges: DataFrame,
                      numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    val v = vertices.select(col("id")).distinct().pinTier
    // pin the filtered edge list: pageRank reads it twice (degree pass +
    // weighted-edge join), and each read would otherwise re-run both
    // semi-joins over the upstream edge lineage
    val e = edges
      .join(v.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(v.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .pinTier
    pageRank(v, e, numIter, resetProb)
  }

  /** Reference-faithful string-id entry point — thin cast shim over
    * [[runWithVertices]] for sources whose ids are genuinely strings
    * (11-char YouTube video ids). */
  def runStringIds(vertices: DataFrame, edges: DataFrame,
                   numIter: Int = 10, resetProb: Double = 0.15): DataFrame =
    runWithVertices(
      vertices.select(col("id").cast("string")),
      edges.select(col("src").cast("string"), col("dst").cast("string")),
      numIter, resetProb)

  /** The reference's full top-K flow (`PageRank_Spark_v5.py:107-115` +
    * enrichment `run_pagerank_job.py:124-140`): rank all vertices, take the
    * top K (TakeOrderedAndProject — no global sort), enrich the K-row result
    * against the dimension table (replacing K driver-side point lookups),
    * and assign dense rank numbers. Enrichment goes through
    * [[graft.ops.Joins.enrichWithPrunedDim]]: the K keys prune the dim
    * scan and the join runs on the driver over O(K) rows — the full dim is
    * never shipped anywhere. Output schema mirrors
    * the reference cache record `{rank, ID, influence_score, uploader}`
    * (`run_pagerank_job.py:135-140`). */
  def topInfluencers(spark: SparkSession, edges: DataFrame, dim: DataFrame,
                     k: Int, numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    val ranks = runLongIds(spark, edges, numIter, resetProb)
    // the cut and the rank numbers order on the ROUNDED score (id
    // tiebreak — the YouTube.influencers rule): full-precision pagerank
    // carries last-ulp sum-order drift across engines, so two
    // rounded-equal vertices could otherwise swap ordinals between this
    // and the oracle's unroll (observed at sf1, 85/100 ordinals shifted)
    val top = ranks
      .withColumn("influence_score", round(col("pagerank"), 6))
      .orderBy(col("influence_score").desc, col("id"))
      .limit(k)
    graft.ops.Joins.enrichWithPrunedDim(top, dim, "id")
      // k-row input by construction — the unpartitioned window is a single
      // task over ≤k rows, which is the intent (a global rank number).
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("influence_score").desc, col("id"))).cast("bigint"))
      .drop("pagerank")
  }
}
