package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** PageRank — SURVEY.md §2.8 G3 (`PageRank_Spark_v5.py:102`:
  * `g.pageRank(resetProbability=0.15, maxIter=10)`).
  *
  * Semantics preserved from the reference (SURVEY.md §2.8):
  * fixed iteration count (not tolerance-based), resetProb 0.15, self-loops
  * removed upstream, duplicate edges kept (multi-edges weight the walk),
  * GraphFrames/GraphX normalization (scores sum ≈ vertex count, not 1.0).
  *
  * Execution: every entry point hands [[rankFixpoint]] raw edges (src,
  * dst, wt — wt ≡ 1.0 for the uniform walk) and a vertex table whose one
  * hash aggregate also yields each vertex's out-weight Σ wt, so scans
  * stay pruned/pushed. While the rank state fits the [[Fixpoint]]
  * broadcast budget it stays on the driver ([[RankKernel]]): the kernel
  * divides each edge's wt by its source's out-weight, packs the edges
  * once and runs each round as one Spark job. Past the budget each round
  * is one DataFrame join plus aggregate on the shared [[Fixpoint]]
  * scaffolding, lineage pinned every 3rd round and the last. Ids of any
  * type run unmapped.
  */
object PageRankOp {

  /** The vertices of an (src, dst, wt) edge list — its distinct endpoints
    * — each with its out-weight `outw` = Σ wt over its out-edges (null for
    * a vertex with none), in ONE hash aggregate. */
  private def endpoints(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src").as("id"), col("wt").as("w")),
        struct(col("dst").as("id"), lit(null).cast("double").as("w")))).as("v"))
      .groupBy(col("v.id").as("id")).agg(sum(col("v.w")).as("outw"))

  /** An (src, dst) edge list as the uniform walk's raw edges. */
  private def uniform(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"), lit(1.0).as("wt"))

  /** `top`'s ≤k rows, collected in their order, with `rank` 1..k appended:
    * a local frame, numbered on the driver. */
  private[graft] def numbered(top: DataFrame): DataFrame = {
    val rows = top.collect()
    top.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.indices.map(i => Row.fromSeq(rows(i).toSeq :+ (i + 1L))): _*),
      top.schema.add(StructField("rank", LongType, nullable = false)))
  }

  /** Core fixpoint: rank'(v) = resetProb + (1−resetProb) ·
    * Σ_{u→v} rank(u)/outDeg(u), `numIter` rounds from rank=1.0 — exactly
    * GraphX's static `PageRank.run` semantics (no dangling redistribution,
    * un-normalized reset term, multi-edge rows each carry weight), without
    * RDD Pregel's per-superstep vertex/edge joins. GraphSpec cross-checks
    * the two.
    *
    * Scale notes: while the state fits the [[Fixpoint]] budget it stays on
    * the driver and a round is one job over the packed edges; past it
    * each round is a join that shuffles on src, the cached weighted
    * edges' standing partitioning, and pinning bounds the join lineage,
    * which would otherwise make the 10-round plan exponentially expensive
    * to analyze (on a cluster, prefer `checkpoint()` to a reliable store
    * for fault tolerance). Works for any id type. */
  def pageRank(vertices: DataFrame, edges: DataFrame,
               numIter: Int = 10, resetProb: Double = 0.15,
               init: Option[DataFrame] = None): DataFrame = {
    // `init` (id, rank) warm-starts the fixpoint from prior rank state
    // (see [[resumeLongIds]]). The declared ids with their out-degrees,
    // in one aggregate over them and the edge sources
    val v = vertices.select(col("id"), lit(null).cast("double").as("wt"), lit(true).as("decl"))
      .unionByName(edges.select(col("src").cast(vertices.schema("id").dataType).as("id"),
        lit(1.0).as("wt"), lit(false).as("decl")))
      .groupBy(col("id")).agg(sum(col("wt")).as("outw"), max(col("decl")).as("decl"))
      .filter(col("decl")).drop("decl")
    fixpointSumToN(v, uniform(edges), numIter, resetProb, "pagerank", init)
  }

  /** Weighted PageRank: rank'(v) = resetProb + (1−resetProb) ·
    * Σ_{u→v} rank(u) · w_uv / W_u with W_u = Σ_out w — the walk follows
    * edge WEIGHTS (repeat co-purchase strength) instead of treating every
    * edge equally; [[pageRank]] is the w ≡ 1 special case. Same fixpoint
    * scaffolding and sum-to-N normalization; only the transition matrix
    * changes. The gate feeds integer counts carried in doubles, so its
    * per-source weight sums (the vertex aggregate's `outw`) are exact
    * (order-independent below 2^53) and both engines divide identical
    * numerators by identical denominators.
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
    // the per-source weight mass W_u rides the vertex aggregate; an
    // all-zero source a caller could feed carries no rank
    fixpointSumToN(endpoints(e), e, numIter, resetProb, "wpagerank")
  }

  /** The shared rank fixpoint over raw edges (src, dst, wt) and the
    * distinct vertex table `vertices` (id, outw), followed by the GraphX
    * sum-to-N normalization. Runs eagerly. */
  private def fixpointSumToN(vertices: DataFrame, edges: DataFrame,
                             numIter: Int, resetProb: Double,
                             tag: String,
                             init0: Option[DataFrame] = None): DataFrame = {
    // numIter == 0 is the documented graceful no-op (ADVICE r16: the r16
    // require() broke resumeLongIds(extraIter = 0) — a plausible "admit
    // edges, keep ranks" call that used to return the re-normalized init
    // state): the init state flows straight to the normalization.
    require(numIter >= 0,
      s"fixpointSumToN: need numIter >= 0, got numIter=$numIter")
    // A warm start (`init0`) seeds known vertices from prior rank state;
    // vertices the prior state never saw start at the cold 1.0.
    val init = (init0 match {
      case Some(r0) => vertices
        .join(r0.select(col("id"), col("rank").as("__r0")), Seq("id"), "left")
        .select(col("id"), col("outw"), coalesce(col("__r0"), lit(1.0)).as("rank"))
      case None => vertices.select(col("id"), col("outw"), lit(1.0).as("rank"))
    }).pinTier
    rankFixpoint(edges, init, numIter, resetProb, lit(resetProb), col("rank"),
      normalize = true, tag) { (edges, ranks0) =>
      // state on the left: on equal size estimates Catalyst builds the
      // right side, here the cached edges
      ranks0.withColumnRenamed("id", "src").join(edges, Seq("src"))
        .select(col("dst"), (col("w") * col("rank")).as("wc"))
    }.withColumnRenamed("rank", "pagerank")
  }

  /** The rank recurrence [[pageRank]] and [[personalizedPageRank]] share,
    * over the raw edges `edges` (src, dst, wt) and the pinned vertex state
    * `init` (id, the out-weight outw = Σ_out wt, plus the columns `reset`
    * and `rank0` read): rank_i(v) = reset(v) + (1−resetProb)·contrib_i(v)
    * with contrib_i(v) = Σ_{u→v} w_uv·rank_{i−1}(u), w_uv = wt_uv / outw(u)
    * and rank_0 = `rank0`.
    * Returns (id, rank) for every vertex of `init` — rank_0 at numIter = 0
    * — scaled to sum to the vertex count when `normalize` is set (GraphX/
    * GraphFrames normalize so; dangling vertices leak rank mass otherwise,
    * SURVEY.md §2.8: the reference's top score 442.8 ≫ 1 comes from
    * exactly this normalization).
    *
    * While the state fits the [[Fixpoint]] budget, it stays on the
    * driver: [[RankKernel]] derives the weights from `outw`, packs the
    * edges once and runs one Spark job per round, and the result is a
    * local frame, so top-K and enrichment downstream need no shuffle. Past
    * the budget the rounds are DataFrame rounds, see [[shuffleRounds]],
    * over weights from ONE window sum over the src-partitioned edges: the
    * rounds join on src, the partitioning that window's single shuffle
    * establishes (r16, guide §2.4 "share the exchange"); `srcCols` adds
    * the source-vertex columns the rounds' `reset` reads to those edges. */
  private def rankFixpoint(edges: DataFrame, init: DataFrame, numIter: Int,
                           resetProb: Double, reset: Column, rank0: Column,
                           normalize: Boolean, tag: String,
                           srcCols: DataFrame => DataFrame = identity)
                          (round1: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // the count reads init's pinned partitions: near-free
    val nVerts = init.count()
    val state = init.drop("outw")
    if (Fixpoint.fits(state, nVerts, tag))
      RankKernel.run(edges, init, numIter, resetProb, reset, rank0, normalize)
    else {
      // a null src never matches a vertex: without the filter the rounds'
      // LEFT join would turn its edges into flows of the reset term
      val ew = edges.select(col("src"), col("dst"), col("wt"),
          sum(col("wt")).over(Window.partitionBy(col("src"))).as("outw"))
        .filter(col("outw") > 0.0 && col("src").isNotNull)
        .select(col("src"), col("dst"), (col("wt") / col("outw")).as("w"))
      val ranks = shuffleRounds(srcCols(ew).cache(), state,
        nVerts, numIter, resetProb, reset, rank0)(round1)
      // rank state lives in localCheckpoints, which the ContextCleaner
      // reclaims once the returned frame is dropped
      if (!normalize) ranks
      else {
        val scale = Fixpoint.sumToN(ranks, "rank", nVerts)
        ranks.select(col("id"), (col("rank") * scale).as("rank"))
      }
    }
  }

  /** [[rankFixpoint]] past the broadcast budget: ONE shuffle join per
    * round over the cached edges `ew`, released before returning. `round1`
    * yields the first round's (dst, wc) flows from `ew` and the init state;
    * PageRank and PPR differ only there and in `reset`. Round i's rank is
    * a pure function of round i−1's CONTRIBUTION table (contrib = 0 for
    * vertices nobody points at), so carrying the contribs as the round
    * state lets the next round's edge join apply the rank formula inline
    * (LEFT join, coalesce(0) standing in for the never-contributed
    * vertices), and the vertex completion join runs ONCE after the last
    * round. That join keys on src — the cached edges' standing
    * partitioning — so only the vertex-sized contribs side moves. Lineage
    * is pinned every 3rd round and the last. */
  private def shuffleRounds(ew: DataFrame, init: DataFrame, nVerts: Long,
                            numIter: Int, resetProb: Double, reset: Column,
                            rank0: Column)
                           (round1: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val parts = Fixpoint.stateParts(init, nVerts)
    def rank(contrib: Column): Column =
      reset + lit(1.0 - resetProb) * coalesce(contrib, lit(0.0))
    val state0 = init.coalesce(parts)
    val contribs = Fixpoint.iterate(state0, numIter, 3,
        _.coalesce(parts).pinTier) { (state, i) =>
      val flows =
        if (i == 1) round1(ew, state)
        else ew.join(state.withColumnRenamed("id", "src"), Seq("src"), "left")
          .select(col("dst"), (col("w") * rank(col("contrib"))).as("wc"))
      flows.groupBy(col("dst").as("id")).agg(sum(col("wc")).as("contrib"))
    }
    ew.unpersist(blocking = false)
    if (numIter == 0) state0.select(col("id"), rank0.as("rank"))
    else init.join(contribs, Seq("id"), "left")
      .select(col("id"), rank(col("contrib")).as("rank"))
  }

  /** PageRank over an edge list with numeric ids (vertex set = edge
    * endpoints, mirroring GraphX `Graph.fromEdges`). One aggregate over
    * the pinned edge list yields the distinct endpoints and their
    * out-degrees, from which the kernel derives the transition weights. */
  def runLongIds(spark: SparkSession, edges: DataFrame,
                 numIter: Int = 10, resetProb: Double = 0.15): DataFrame =
    runEndpoints(edges, numIter, resetProb, None)

  /** [[runLongIds]] and [[resumeLongIds]]: the uniform walk over the
    * endpoints of `edges`, optionally warm-started from `init`. */
  private def runEndpoints(edges: DataFrame, numIter: Int, resetProb: Double,
                           init: Option[DataFrame]): DataFrame = {
    // pinned, not cached: the edge lineage (often a co-occurrence self-join)
    // must compute exactly once, and the truncated lineage keeps the
    // 10-round plans small
    val e = uniform(edges.select(col("src").cast("long"), col("dst").cast("long")))
      .pinTier
    fixpointSumToN(endpoints(e), e, numIter, resetProb, "pagerank", init)
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
                    resetProb: Double = 0.15): DataFrame =
    runEndpoints(edges, extraIter, resetProb,
      Some(prevRanks.select(col("id"), col("pagerank").as("rank"))))

  /** Personalized PageRank: the teleport mass returns to a SEED SET
    * instead of every vertex — rank'(v) = resetProb·1[v∈S] + (1−resetProb)
    * ·Σ_{u→v} rank(u)/outDeg(u), rank₀ = 1[v∈S] — the standard
    * seed-relative relevance score ("what co-occurs with THESE parts",
    * "what does this community reach"), emitted raw (no sum-to-N
    * normalization: PPR mass legitimately decays through dangling
    * vertices, and the raw score IS the seed-affinity). The same rank
    * recurrence as [[pageRank]] ([[rankFixpoint]]); the oracle
    * unrolls the identical recurrence with a seed-conditional reset term.
    * Returns the top-k by score with a rank column, numbered on the driver
    * ([[numbered]]). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           numIter: Int = 10, resetProb: Double = 0.15,
                           k: Int = 100): DataFrame = {
    require(numIter >= 1,
      s"personalizedPageRank: need numIter >= 1, got numIter=$numIter")
    val e = uniform(edges.select(col("src").cast("long"), col("dst").cast("long")))
      .pinTier
    // seed flag rides the vertex state (one broadcast join, not per-round)
    val init = endpoints(e)
      .join(broadcast(seeds.select(col("id"), lit(1).as("s"))), Seq("id"), "left")
      .select(col("id"), col("outw"), coalesce(col("s"), lit(0)).cast("double").as("seed"))
      .pinTier
    // past the budget the SOURCE's seed flag rides the cached edge row —
    // one broadcast join at prep, so the per-round fold needs no seed
    // lookup; rank₀ = 1[v∈S] = that flag, so round 1 folds straight off
    // the cached edges with no state join at all
    def seedOfSrc(ew: DataFrame) = ew
      .join(broadcast(seeds.select(col("id").as("src"), lit(1).as("s"))), Seq("src"), "left")
      .select(col("src"), col("dst"), col("w"),
        coalesce(col("s"), lit(0)).cast("double").as("seed"))
    val ranks = rankFixpoint(e, init, numIter, resetProb, lit(resetProb) * col("seed"),
        col("seed"), normalize = false, "ppr", seedOfSrc) { (ew, _) =>
      ew.select(col("dst"), (col("w") * col("seed")).as("wc"))
    }
    numbered(ranks
      .select(col("id"), round(col("rank"), 6).as("ppr"))
      .filter(col("ppr") > 0.0)
      .orderBy(col("ppr").desc, col("id"))
      .limit(k))
      .select(col("rank"), col("id"), col("ppr"))
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
    // pin the filtered edge list: both semi-joins run once, eagerly, and
    // pageRank's vertex aggregate and edge packing start from truncated
    // lineage instead of the upstream edge pipeline
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
    * and number the rows on the driver ([[numbered]]). Enrichment goes through
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
    // the enrichment keeps the top-k's (score desc, id) order
    numbered(graft.ops.Joins.enrichWithPrunedDim(top, dim, "id"))
      .drop("pagerank")
  }
}
