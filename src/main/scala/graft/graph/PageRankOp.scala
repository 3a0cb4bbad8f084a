package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PageRank — SURVEY.md §2.8 G3 (`PageRank_Spark_v5.py:102`:
  * `g.pageRank(resetProbability=0.15, maxIter=10)`).
  *
  * Semantics preserved from the reference (SURVEY.md §2.8):
  * fixed iteration count (not tolerance-based), resetProb 0.15, self-loops
  * removed upstream, duplicate edges kept (multi-edges weight the walk),
  * GraphFrames/GraphX normalization (scores sum ≈ vertex count, not 1.0).
  *
  * Execution: edge preparation (out-degree weights, vertex sets, seed
  * flags) is DataFrame work, so scans stay pruned/pushed; the rounds run
  * in [[rankFixpoint]]. While the rank state fits the [[Fixpoint]]
  * broadcast budget it stays on the driver ([[RankKernel]]): the edges are
  * packed once and each round is one Spark job. Past the budget each round
  * is one DataFrame join plus aggregate on the shared [[Fixpoint]]
  * scaffolding, lineage pinned every 3rd round and the last. Ids of any
  * type run unmapped.
  */
object PageRankOp {

  /** Uniform transition weight 1/outDeg(src) from ONE window count over the
    * src-partitioned edges (r16, guide §2.4 "share the exchange"): an
    * outDeg aggregate + equi-join + repartition(src) spent two exchanges
    * to land in the partitioning the window's single shuffle establishes
    * — measured 0.44 s vs 1.13 s at sf0.1 (2.4M edges). */
  private val outShare: Column =
    lit(1.0) / count(lit(1)).over(Window.partitionBy(col("src")))

  /** Distinct endpoints of an (src, dst) edge list. */
  private def endpoints(e: DataFrame): DataFrame =
    e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()

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
    // (see [[resumeLongIds]])
    val ew = edges.select(col("src"), col("dst"), outShare.as("w"))
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
    val verts = endpoints(e)
    // per-source weight mass via ONE window sum over the src-partitioned
    // edges (the r16 pageRank ew rule — the join + repartition spent two
    // exchanges to reach the window's partitioning). Weights are integer
    // counts in doubles, so the window's partition-local sum equals the
    // old aggregate's bit-for-bit (exact below 2^53, any order); the
    // outw > 0 guard survives as a filter for the degenerate all-zero
    // source a caller could feed (the old inner join dropped it).
    val ew = e.select(col("src"), col("dst"), col("wt"),
        sum(col("wt")).over(Window.partitionBy(col("src"))).as("outw"))
      .filter(col("outw") > 0.0)
      .select(col("src"), col("dst"), (col("wt") / col("outw")).as("w"))
    fixpointSumToN(verts, ew, numIter, resetProb, "wpagerank")
  }

  /** The shared rank fixpoint over a prepared transition-weight edge list
    * `ew` (src, dst, w with Σ_out w = 1 per non-sink source), followed by
    * the GraphX sum-to-N normalization. Runs eagerly. */
  private def fixpointSumToN(vertices: DataFrame, ew: DataFrame,
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
    val ids = vertices.select(col("id")).distinct()
    val init = (init0 match {
      case Some(r0) => ids
        .join(r0.select(col("id"), col("rank").as("__r0")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__r0"), lit(1.0)).as("rank"))
      case None => ids.select(col("id"), lit(1.0).as("rank"))
    }).pinTier
    rankFixpoint(ew, init, numIter, resetProb, lit(resetProb), col("rank"),
      normalize = true, tag) { (edges, ranks0) =>
      edges.join(ranks0.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("w") * col("rank")).as("wc"))
    }.withColumnRenamed("rank", "pagerank")
  }

  /** The rank recurrence [[pageRank]] and [[personalizedPageRank]] share,
    * over the transition-weight edges `ew` and the pinned vertex state
    * `init` (id plus the columns `reset` and `rank0` read):
    * rank_i(v) = reset(v) + (1−resetProb)·contrib_i(v) with
    * contrib_i(v) = Σ_{u→v} w_uv·rank_{i−1}(u) and rank_0 = `rank0`.
    * Returns (id, rank) for every vertex of `init` — rank_0 at numIter = 0
    * — scaled to sum to the vertex count when `normalize` is set (GraphX/
    * GraphFrames normalize so; dangling vertices leak rank mass otherwise,
    * SURVEY.md §2.8: the reference's top score 442.8 ≫ 1 comes from
    * exactly this normalization).
    *
    * While `init` fits the [[Fixpoint]] budget, the state stays on the
    * driver: [[RankKernel]] packs the edges once and runs one Spark job per
    * round, and the result is a local frame, so top-K and enrichment
    * downstream need no shuffle. Past the budget the rounds are DataFrame
    * rounds, see [[shuffleRounds]]. */
  private def rankFixpoint(ew: DataFrame, init: DataFrame, numIter: Int,
                           resetProb: Double, reset: Column, rank0: Column,
                           normalize: Boolean, tag: String)
                          (round1: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // the count reads init's pinned partitions: near-free
    val nVerts = init.count()
    if (Fixpoint.fits(init, nVerts, tag))
      RankKernel.run(ew, init, numIter, resetProb, reset, rank0, normalize)
    else {
      // a null src never matches a vertex: without the filter the rounds'
      // LEFT join would turn its edges into flows of the reset term
      val ranks = shuffleRounds(ew.filter(col("src").isNotNull).cache(), init,
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
    val verts = endpoints(e)
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
    val verts = endpoints(e)
    pageRank(verts, e, extraIter, resetProb,
      init = Some(prevRanks.select(col("id"), col("pagerank").as("rank"))))
  }

  /** Personalized PageRank: the teleport mass returns to a SEED SET
    * instead of every vertex — rank'(v) = resetProb·1[v∈S] + (1−resetProb)
    * ·Σ_{u→v} rank(u)/outDeg(u), rank₀ = 1[v∈S] — the standard
    * seed-relative relevance score ("what co-occurs with THESE parts",
    * "what does this community reach"), emitted raw (no sum-to-N
    * normalization: PPR mass legitimately decays through dangling
    * vertices, and the raw score IS the seed-affinity). The same rank
    * recurrence as [[pageRank]] ([[rankFixpoint]]); the oracle
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
    // one broadcast join at prep, so the per-round fold needs no seed
    // lookup at all
    val ew = e.select(col("src"), col("dst"), outShare.as("w"))
      .join(broadcast(seeds.select(col("id").as("src"), lit(1).as("s"))),
        Seq("src"), "left")
      .select(col("src"), col("dst"), col("w"),
        coalesce(col("s"), lit(0)).cast("double").as("seed"))
    // seed flag rides the vertex state (one broadcast join, not per-round)
    val init = endpoints(e)
      .join(broadcast(seeds.select(col("id"), lit(1).as("s"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0)).cast("double").as("seed"))
      .pinTier
    // rank₀ = 1[v∈S] = the source's seed flag, so a DataFrame round 1
    // folds straight off the cached edges with no state join at all
    val ranks = rankFixpoint(ew, init, numIter, resetProb,
      lit(resetProb) * col("seed"), col("seed"), normalize = false, "ppr") { (edges, _) =>
      edges.select(col("dst"), (col("w") * col("seed")).as("wc"))
    }
    val top = ranks
      .select(col("id"), round(col("rank"), 6).as("ppr"))
      .filter(col("ppr") > 0.0)
      .orderBy(col("ppr").desc, col("id"))
      .limit(k)
    top.withColumn("rank",
        row_number().over(Window
          .orderBy(col("ppr").desc, col("id"))).cast("bigint"))
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
    // pageRank's out-degree window (its single read, cached as the
    // weighted edges) starts from truncated lineage instead of the
    // upstream edge pipeline
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
        row_number().over(Window
          .orderBy(col("influence_score").desc, col("id"))).cast("bigint"))
      .drop("pagerank")
  }
}
