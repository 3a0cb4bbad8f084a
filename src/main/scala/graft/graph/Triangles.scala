package graft.graph

import graft.Tier.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficients over the undirected
  * co-occurrence graph — the standard cohesion diagnostics (a basket graph
  * with high clustering has real category structure; a near-zero
  * coefficient on a high-degree vertex flags a hub that bridges otherwise
  * unrelated baskets).
  *
  * Scale shape — the degree-orientation trick (Cohen 2009; the MapReduce
  * triangle-counting standard): orient every undirected edge from its
  * lower-(degree, id) endpoint to the higher one. The oriented graph is a
  * DAG where every vertex's out-degree is O(√m) on any graph (a vertex
  * keeps only edges toward HIGHER-degree partners), so the wedge join
  * — the quadratic step — is bounded by Σ outDeg² = O(m^1.5) instead of
  * the Σ deg² a skewed hub would cost under id-orientation; each triangle
  * is enumerated exactly once. The wedge and closure steps are plain
  * equi-joins Catalyst hashes and AQE skew-splits. The DuckDB oracle
  * enumerates the same triangle set with the naive id-orientation —
  * orientation changes the JOIN COST, never the triangle set, which is
  * exactly why the trick is safe to apply at scale.
  */
object Triangles {

  /** Undirected simple edges (a < b) from a directed/multi edge list:
    * self-loops dropped, both directions and duplicates collapsed. */
  def undirect(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Per-vertex triangle count and local clustering coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)), plus the undirected degree. Vertices
    * of degree 1 have an undefined coefficient → 0.0 by convention (no
    * possible wedge — emitting null would make every mean over the column
    * a three-valued-logic trap). Ordered by id. */
  def vertexTriangles(edges: DataFrame): DataFrame =
    vertexTrianglesUnd(undirect(edges))

  /** [[vertexTriangles]] over an ALREADY-undirected simple pair set
    * (a < b, distinct — [[graft.graph.EdgeTier.undirected]]'s contract):
    * the standing tier precomputes the undirect shuffle once per dataset,
    * so the wedge family starts at the pinned tier instead of re-deriving
    * it per query. */
  def vertexTrianglesUnd(undirected: DataFrame): DataFrame = {
    val und = undirected.select(col("a"), col("b"))
      .pinTier // read by degrees, orientation, closure
    val nEdges = und.count()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .pinTier
    // Pinned tiers have unknown stats, so Catalyst alone would shuffle the
    // edge list against the (vertex-sized) degree table and shuffle the
    // wedge stream against the (edge-sized) closure side — the exact
    // pathology the fixpoints solve with Fixpoint.broadcaster. While the
    // vertex/edge tables fit the broadcast budget the whole pipeline below
    // is ONE map-side pass over the wedge stream (no exchange touches the
    // Σ outDeg²-sized intermediate — the only thing that may not be
    // shuffled at scale); past the budget it degrades to shuffle joins,
    // which is the right call when the edge list itself is executor-sized.
    val mbDeg = Fixpoint.broadcaster(deg, 2L * nEdges, "triangles.deg")
    val bcastEdges = Fixpoint.fits(und, nEdges, "triangles.closure")
    // shuffle-path build side: per-partition hash map instead of the
    // default sort-merge — edge-sized builds are cheap, and the probe
    // side (the wedge stream) must never be SORTED (the ×32 spill)
    def mbh(df: DataFrame): DataFrame =
      if (bcastEdges) broadcast(df) else df.hint("shuffle_hash")
    // orient by (degree, id): u -> v iff (deg(u), u) < (deg(v), v)
    val oriented = und
      .join(mbDeg(deg.select(col("id").as("a"), col("degree").as("da"))), Seq("a"))
      .join(mbDeg(deg.select(col("id").as("b"), col("degree").as("db"))), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .pinTier // both wedge legs read it
      // Parallelism ∝ scale for the wedge stage: AQE coalesces by BYTES,
      // and a few-MB edge list coalesces to ~2 tasks — but each edge row
      // fans out into O(outDeg) wedges of pure CPU, the classic AQE blind
      // spot. One cheap exchange of the edge list buys every task a share
      // of the Σ outDeg² work; the fan-out follows the session's shuffle
      // partitions (the Stress/cluster rule: partitions scale with data),
      // floored at the core count.
      .repartition(math.max(
          undirected.sparkSession.sparkContext.defaultParallelism,
          undirected.sparkSession.sessionState.conf.numShufflePartitions),
        col("u"))
    // wedges u -> (v, w), v < w by id: two oriented out-edges of one pivot.
    // The wedge stream NEVER hits an exchange: the pair-generation join
    // broadcasts one copy of the (edge-sized) oriented list, and the
    // closure check broadcasts und — wedges flow straight from generation
    // through the semi join into the partial aggregate.
    // On the shuffle path the pair-generation leg carries a shuffle_hash
    // hint: the build side is edge-sized (hash map per partition, no
    // sort), where the default sort-merge would SORT both legs — at ×32
    // that sort, not the join itself, was the spill.
    val wedges = oriented
      .join(mbh(oriented.withColumnsRenamed(Map("v" -> "w"))),
        Seq("u"))
      .filter(col("v") < col("w"))
    // Past the broadcast budget the exact semi join must shuffle its probe
    // side — the Σ outDeg²-sized wedge stream, the ONE intermediate this
    // operator may not exchange (r12 ×32: a 38M-row wedge shuffle spilled
    // at 13.6 GB and inflated per-unit work ~1.5×). A bloom filter of the
    // edge set is a few MB however big the graph, ships as a literal, and
    // drops non-closing wedges MAP-SIDE inside codegen — so the exchange
    // carries ~triangles + the false-positive trickle, not wedges; the
    // exact semi join then removes every false positive (the
    // q_decontaminate_bloom composition — bit-identical output, pinned in
    // TrianglesSpec). Sized ~12 bits/edge, capped at Spark's runtime-
    // filter ceiling (past ~5M edges the FP rate degrades gracefully and
    // the verify join absorbs it). The obvious "raise the cap" move was
    // MEASURED AND REJECTED (r15, ×32 same-window A/B): a 2^28-bit
    // sketch (7 bits/edge, FP ~3% vs ~43%) made the query 1.7× SLOWER —
    // build 33→129 s (every map-side partial aggregate allocates the
    // full 32 MB sketch, and P=1024 partials merge through one final
    // task) and probe 197→270 s (the 33 MB literal rides the task
    // binary of every downstream stage). The 8 MB ceiling is the right
    // ceiling: FP wedges are cheap to re-verify, giant sketches are
    // expensive everywhere.
    val closureProbe =
      if (bcastEdges) wedges
      else {
        val bloom = graft.functions.BloomFunctions.buildBloom(
          und.select(struct(col("a").as("v"), col("b").as("w")).as("k")),
          col("k"), estItems = math.max(nEdges, 1L),
          numBits = math.min(1L << 26, math.max(1L << 23, 12L * nEdges)))
        wedges.filter(graft.functions.BloomFunctions.mightContain(
          bloom, struct(col("v"), col("w"))))
      }
    // closure: (v, w) has v < w by id, and und IS the a < b edge set —
    // membership there is exactly "the undirected edge exists". The
    // shuffle_hash hint keeps the wedge stream UNSORTED through the semi
    // join: the edge side builds a per-partition hash map, the
    // bloom-surviving wedges stream past it — a sort-merge semi join
    // would sort the whole probe side, which is the ×32 spill.
    val tris = closureProbe.join(
      mbh(und.select(col("a").as("v"), col("b").as("w"))),
      Seq("v", "w"), "leftsemi")
    // each triangle credits all three corners
    val perVertex = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg
      // same unknown-stats story as above: both sides are vertex-sized,
      // and without the hint the planner sort-merges two tiny tables
      .join(mbDeg(perVertex), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(lit(2.0) * col("n_triangles")
            / (col("degree") * (col("degree") - lit(1))), 4))
          .otherwise(lit(0.0)))
      .orderBy(col("id"))
  }

  /** One-row global summary: vertex/edge/triangle totals and the mean
    * local clustering coefficient (computed over the published rounded
    * per-vertex values, so it is recomputable from the report). */
  def globalTriangleStats(edges: DataFrame): DataFrame =
    globalTriangleStatsUnd(undirect(edges))

  /** [[globalTriangleStats]] over a pre-undirected pair set (the standing
    * tier's contract). */
  def globalTriangleStatsUnd(undirected: DataFrame): DataFrame =
    vertexTrianglesUnd(undirected).agg(
      count(lit(1)).as("n_vertices"),
      (sum(col("degree")) / 2).cast("bigint").as("n_edges"),
      (sum(col("n_triangles")) / 3).cast("bigint").as("n_triangles"),
      round(avg(col("clustering")), 4).as("mean_clustering"))

  /** Neighborhood-Jaccard link prediction: for every UNLINKED vertex pair
    * with at least one common neighbor, the Jaccard overlap of their
    * neighborhoods |N(v)∩N(w)| / |N(v)∪N(w)| — the classic
    * common-neighbors link predictor ("parts that should co-occur but
    * don't yet"; on a doc graph, "near-communities about to merge").
    * Top-k by the ROUNDED score (tie (v, w)) for k-boundary portability;
    * existing edges are anti-joined away — the operator predicts NEW
    * links only.
    *
    * Scale shape: the wedge aggregate is Σ deg(u)² over PIVOT vertices —
    * the one quadratic-in-degree step, so (a) the caller should feed a
    * PRUNED edge set (the q_link_pred gate uses co-occurrence weight ≥ 2:
    * repeated co-purchase, 7k edges where the raw graph has 2.4M — the
    * filter-before-the-quadratic rule), and (b) pivots above
    * `maxPivotDeg` are excluded, with the cap part of the semantics
    * (a celebrity hub's neighborhood predicts nothing — the stop-key
    * precedent, mirrored in the oracle). Pair degrees for the union term
    * stay the FULL undirected degrees. */
  def neighborJaccard(edges: DataFrame, maxPivotDeg: Int = 1024,
                      k: Int = 100): DataFrame = {
    val und = undirect(edges).pinTier
    val nEdges = und.count()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .pinTier
    val mbDeg = Fixpoint.broadcaster(deg, 2L * nEdges, "linkpred.deg")
    val mbEdges = Fixpoint.broadcaster(und, nEdges, "linkpred.closure")
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val pivotAdj = adj
      .join(mbDeg(deg.filter(col("degree") <= maxPivotDeg)
        .select(col("id").as("u"))), Seq("u"), "leftsemi")
      .repartition(edges.sparkSession.sparkContext.defaultParallelism, col("u"))
      .pinTier // both wedge legs
    val common = pivotAdj
      .join(mbEdges(pivotAdj.withColumnsRenamed(Map("v" -> "w"))), Seq("u"))
      .filter(col("v") < col("w"))
      .groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("n_common"))
    val unlinked = common.join(
      mbEdges(und.select(col("a").as("v"), col("b").as("w"))),
      Seq("v", "w"), "left_anti")
    unlinked
      .join(mbDeg(deg.select(col("id").as("v"), col("degree").as("dv"))), Seq("v"))
      .join(mbDeg(deg.select(col("id").as("w"), col("degree").as("dw"))), Seq("w"))
      .select(col("v"), col("w"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("dv") + col("dw") - col("n_common")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("v"), col("w"))
      .limit(k)
  }

  /** Fixed-round k-core peel: `rounds` rounds of "drop every vertex whose
    * degree in the surviving subgraph is < k" over the undirected simple
    * graph — the standard cohesive-subgraph extractor (a spam/bot cluster
    * is a dense core; a crawl frontier is shell). Bounded-round BY
    * CONTRACT, not as an approximation dodge: the round count is part of
    * the operator semantics so the DuckDB oracle can unroll the identical
    * peel (the PageRank fixed-iteration precedent) — on graphs that
    * converge earlier the extra rounds are no-ops (each round's aggregate
    * over an unchanged survivor set), and the spec pins a long-chain case
    * where convergence takes multiple rounds. Output: every original
    * vertex with its final in_core verdict and surviving degree.
    *
    * Scale shape: each round is one semi-join of the edge list against the
    * survivor set plus one degree aggregate — edge-cardinality work per
    * round with map-side-combined counts; survivor state broadcasts under
    * the [[Fixpoint]] budget and the round count is a small fixed
    * constant. Lineage pinned every other round (the fixpoint rule). */
  def kCore(edges: DataFrame, k: Int = 3, rounds: Int = 10): DataFrame =
    kCoreUnd(undirect(edges), k, rounds)

  /** [[kCore]] over a pre-undirected pair set (the standing tier's
    * contract). */
  def kCoreUnd(undirected: DataFrame, k: Int = 3, rounds: Int = 10): DataFrame = {
    val und = undirected.select(col("a"), col("b")).pinTier
    val nEdges = und.count()
    val allVerts = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct().pinTier
    val mb = Fixpoint.broadcaster(allVerts, 2L * nEdges, "kcore")
    // the edges whose endpoints both survive
    def live(survivors: DataFrame): DataFrame = und
      .join(mb(survivors.select(col("id").as("a"))), Seq("a"), "leftsemi")
      .join(mb(survivors.select(col("id").as("b"))), Seq("b"), "leftsemi")
    def degrees(l: DataFrame): DataFrame = l.select(col("a").as("id"))
      .unionAll(l.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // Early exit on convergence (r16): the survivor set only ever SHRINKS,
    // so an unchanged [[Fixpoint.signature]] of the ids across a
    // pin (two rounds) proves survivors_{i} = survivors_{i−2} ⇒ the
    // intermediate round removed nothing ⇒ fixed point — every remaining
    // round is a no-op by the peel's own monotonicity, and the fixed-round
    // CONTRACT is untouched (the oracle's extra unrolled rounds are no-ops
    // over the same set; the published rows are bit-identical). This is
    // the connectedComponents signature device; monotonicity is what makes
    // the two-round-interval compare sound here (an oscillating fixpoint
    // like LPA would need consecutive-state compares). At sf0.1 the gate
    // graph converges by round 6 of 10 — two of five pin jobs skipped.
    val survivors = Fixpoint.iterate(allVerts, rounds, 2, _.pinTier, Seq("id")) {
      (s, _) => degrees(live(s)).filter(col("deg") >= k).select(col("id"))
    }
    val coreDeg = degrees(live(survivors)).withColumnRenamed("deg", "core_degree")
    // in_core is MEMBERSHIP in the final survivor set — distinct from
    // having surviving edges (an unconverged survivor can hold zero edges
    // in the final subgraph; the fixed-round contract reports it in-core
    // with core_degree 0, and the oracle mirrors exactly that)
    allVerts
      .join(mb(survivors.withColumn("s", lit(1))), Seq("id"), "left")
      .join(mb(coreDeg), Seq("id"), "left")
      .select(col("id"),
        col("s").isNotNull.as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
      .orderBy(col("id"))
  }

  /** Degree assortativity — the one-number mixing signature of the graph:
    * Pearson correlation of endpoint degrees over the (symmetrized)
    * undirected edge list. Positive: hubs attach to hubs (social/citation
    * shape); negative: hubs fan out to leaves (star/spam shape); the
    * Newman 2002 statistic, a standing health metric next to the degree
    * histogram. Both edge orientations enter the correlation (the
    * undirected convention — the statistic must be symmetric in (x, y)).
    *
    * Scale shape: one degree aggregate over the undirected edges, two
    * equi joins attaching endpoint degrees, one moment aggregate — every
    * stage keyed and map-combined; the output is a single row.
    *
    * Exactness: NOT the corr() aggregate — its running float update is
    * partition-order-dependent (and ANSI Spark raises DIVIDE_BY_ZERO on
    * a zero-variance regular graph mid-aggregate). The five moment sums
    * are exact integers (order-independent), and the closed-form Pearson
    * arithmetic runs once on them in the identical IEEE order both
    * engines — products stay exact below 2^53, fine to ~10^8-degree-mass
    * graphs; beyond that swap the moment sums to decimal. Zero variance
    * publishes null. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirect(edges).pinTier
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .pinTier // joined twice below
    val sym = und.select(col("a").as("x"), col("b").as("y"))
      .unionAll(und.select(col("b").as("x"), col("a").as("y")))
    val m = sym
      .join(deg.select(col("id").as("x"), col("degree").as("dx")), Seq("x"))
      .join(deg.select(col("id").as("y"), col("degree").as("dy")), Seq("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val vx = d("n") * d("sxx") - d("sx") * d("sx")
    val vy = d("n") * d("syy") - d("sy") * d("sy")
    m.select(
        when(vx > 0.0 && vy > 0.0,
          round((d("n") * d("sxy") - d("sx") * d("sy")) / sqrt(vx * vy), 4))
          .as("assortativity"))
      .crossJoin(deg.agg(count(lit(1)).as("n_vertices")))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .select(col("n_vertices"), col("n_edges"), col("assortativity"))
  }
}
