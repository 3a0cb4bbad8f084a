package graft.sim

import graft.Tier.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star scope).
  *
  * The embedding is an `array<float>` column; the math runs in double
  * precision on the native codegen'd [[dot]] expression, no UDF (the
  * exact all-pairs [[cosineNearDups]] runs the same arithmetic in its own
  * pair kernel, [[CosinePairs]]). Two top-k paths:
  *   - [[bruteForceTopK]]: exact top-k by cosine — the correctness baseline.
  *     O(|Q|·|C|) pairs, fine when either side is small (it's a broadcast
  *     nested-loop join: the query side broadcasts, the corpus streams).
  *   - [[lshTopK]]: random-hyperplane LSH — sign-bit signatures bucket the
  *     corpus so each query only scores its bucket's candidates. The scale
  *     path: signature computation is map-side; the join is equi on bucket.
  *     Recall < 1 by construction; tested against the brute-force baseline.
  * Hyperplanes are pseudo-random ±1 vectors derived from xxhash64(plane, dim)
  * — deterministic, no RNG state to ship to executors.
  */
object Similarity {

  /** dot(a, b) in double precision — a native codegen'd Expression
    * ([[graft.functions.DotProduct]]): the HOF route
    * (aggregate∘zip_with) is interpreted per element and was the inner loop
    * of every O(n²) similarity job. Index-order summation, so results are
    * bit-identical to the HOF version and to DuckDB's list functions. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Null when either norm is zero (a zero or empty vector), with ANSI mode
    * on or off, and the ranked pools drop null rows. `try_divide` is
    * Catalyst's divide with null for a zero divisor; `nullif(‖a‖·‖b‖, 0)`
    * would do the same but, inlined into a join condition, evaluates the
    * norm product twice per pair. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Per-vector norm/moment report — the embedding-hygiene pass before any
    * similarity work (zero vectors break cosine; wild norms flag a broken
    * encoder). Pure map-side over the native dot-product expression: one
    * codegen'd loop per row, no shuffle, no HOF. */
  def embeddingNorms(embeddings: DataFrame): DataFrame = {
    // empty vectors report null, not 0.0/NaN — matching SQL aggregate
    // semantics (list_sum of an empty list is NULL), so the oracle compare
    // holds even when the corpus contains the broken rows this pass hunts
    val empty = size(col("embedding")) === 0
    embeddings
      .select(col("vec_id"),
        size(col("embedding")).cast("bigint").as("dim"),
        when(empty, lit(null))
          .otherwise(round(sqrt(dot(col("embedding"), col("embedding"))), 4))
          .as("l2_norm"),
        when(empty, lit(null))
          .otherwise(round(aggregateMean(col("embedding")), 6)).as("mean_val"))
      .orderBy(col("vec_id"))
  }

  /** Mean of an array<float> without the interpreted `aggregate` HOF:
    * dot(v, ones) is the element sum via the codegen'd native expression
    * (array_repeat is a plain codegen'd collection op, not a lambda HOF). */
  private def aggregateMean(v: Column): Column =
    dot(v, array_repeat(lit(1.0f), size(v))) / size(v)

  /** Exact top-k cosine neighbors for each query vector (query ids drawn
    * from the corpus itself). Ties broken by neighbor id; scores rounded for
    * cross-engine comparison.
    *
    * Cost is |Q|·|corpus| — linear in the corpus for a FIXED probe, which
    * is why every audit uses it as ground truth; the guard caps the probe
    * side so nobody can turn it into the all-pairs quadratic by passing a
    * corpus-sized id list (the probe also broadcasts, so an unbounded list
    * would OOM the executors before it finished being merely slow). */
  val MaxProbeQueries: Int = 4096

  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.size <= MaxProbeQueries,
      s"bruteForceTopK: ${queryIds.size} probe queries exceeds MaxProbeQueries=" +
        s"$MaxProbeQueries — the exact baseline costs |Q|·|corpus|; probe a " +
        "fixed sample (recallAudit's rule) or use lshTopK/ivfTopK at scale")
    val q = embeddings
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // widened: the BNLJ's parallelism is the STREAMED side's partitioning,
    // and the one-split fixture scan would run all |Q|·n cosines in one
    // task. KEPT in the r17 A/B (VERDICT r16 #1): this is the one widen
    // class that measured FASTER at the driver config — q_recall_audit
    // (whose exact denominators run through here) 6.4 s widened vs
    // 8.2–9.0 s not, consistently across interleaved legs.
    val pairs = q.hint("broadcast").join(
        graft.Tier.widen(embeddings
          .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Sign-bit LSH signature: bit p = [dot(emb, hyperplane_p) > 0], packed
    * into a long. Hyperplane component (p, i) is ±1 by the parity of
    * xxhash64((planeOffset + p) · 4096 + i); `planeOffset` selects an
    * independent hyperplane family, which is how the multi-table scheme in
    * [[cosineNearDupsLSH]] gets its independent tables. */
  def lshSignature(emb: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), lit(dim - 1)),
          (x, i) => x.cast("double") *
            when(pmod(xxhash64(lit((planeOffset + p) * 4096) + i), lit(2)) === 0, 1.0)
              .otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN top-k via hyperplane-LSH bucketing: candidates = same signature
    * bucket, then exact cosine rank within candidates. `planes` tunes the
    * bucket granularity (16 planes → 65k buckets). */
  def lshTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              planes: Int = 8, dim: Int = 64): DataFrame = {
    val signed = embeddings.select(
      col("vec_id"), col("embedding"),
      lshSignature(col("embedding"), planes, dim).as("bucket"))
    val q = signed
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    val pairs = q.hint("broadcast")
      .join(signed.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("bucket")), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path: a k-means
    * coarse quantizer (spark.ml, seeded) partitions the corpus into nlist
    * cells; each query probes its nprobe nearest centroids and ranks
    * exactly within those cells only. Versus hyperplane LSH: data-adaptive
    * cells (better recall on clustered corpora) at the cost of a training
    * pass. The centroid table is tiny → broadcast; the candidate join is an
    * equi-join on cell id, so corpus-side work is one scan + one shuffle by
    * cell. */
  def ivfTopK(spark: SparkSession, embeddings: DataFrame, queryIds: Seq[Long],
              k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val vecs = embeddings
      .withColumn("v", array_to_vector(col("embedding")))
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val model = km.fit(vecs)
    val assigned = model.transform(vecs)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .cache()
    val centroids = model.clusterCenters.zipWithIndex
    val centDf = spark.createDataFrame(
        centroids.map { case (c, i) => (i, c.toArray) }.toSeq)
      .toDF("cell", "centroid")
    val q = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // nprobe nearest cells per query (centroid table broadcast)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_to_cent").desc, col("cell"))
    val probes = q.join(broadcast(centDf))
      .withColumn("cos_to_cent",
        cosine(col("q_emb").cast("array<double>"), col("centroid")))
      .withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    probes
      .join(assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF over SQ8-compressed postings with exact re-rank — [[ivfTopK]]'s
    * cell pruning composed with [[sqQuantize]]'s 1-byte/dim layout (the
    * classic IVF-SQ design, e.g. FAISS IndexIVFScalarQuantizer): the
    * postings a probe scans carry integer CODES, not float vectors, so the
    * corpus-side read and shuffle shrink ~4x at 100 TB while cell pruning
    * still confines scoring to nprobe/nlist of the corpus. Scoring is
    * asymmetric (ADC) in lookup-table form: the affine codebook folds into
    * per-query constants (q_const, w) so each candidate costs one fused
    * codegen'd (double, int) dot product over its raw codes; the top
    * `rerankFactor * k` per query then re-rank against exact embeddings —
    * a candidate-bounded id-join read (the "refine" step), NOT a second
    * corpus scan — so every emitted score is exact. Output schema and
    * determinism rules match [[ivfTopK]]; candidate selection inherits the
    * k-means cells + quantization grid, hence engine-specific (rows-only
    * gate), with retrieval quality audited as the `ann_ivf_sq` row of
    * [[recallAudit]]. */
  def ivfSqTopK(spark: SparkSession, embeddings: DataFrame, queryIds: Seq[Long],
                k: Int, nlist: Int = 16, nprobe: Int = 4, levels: Int = 255,
                rerankFactor: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = embeddings.withColumn("v", array_to_vector(col("embedding")))
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val model = km.fit(vecs)
    val assigned = model.transform(vecs)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .cache()
    val codebook = sqStats(embeddings)
    // the compressed posting list: (cell, id, codes, code_norm) — the float
    // vector does not ship with the corpus side at all. code_norm is the
    // reconstructed vector's norm, computed ONCE per corpus row at build
    // (the only place a dequantized array is ever materialized)
    val postings = assigned.crossJoin(broadcast(codebook))
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        sqCodesExpr(col("embedding"), levels).as("codes"),
        col("mns"), col("mxs"))
      .withColumn("deq", sqDequantExpr(col("codes"), levels))
      .withColumn("code_norm", sqrt(dot(col("deq"), col("deq"))))
      .drop("deq", "mns", "mxs")
    val centDf = spark.createDataFrame(
        model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq)
      .toDF("cell", "centroid")
    val q = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_to_cent").desc, col("cell"))
    val probes = q.join(broadcast(centDf))
      .withColumn("cos_to_cent",
        cosine(col("q_emb").cast("array<double>"), col("centroid")))
      .withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    // ADC pass, lookup-table form: dot(q, dequant(c)) decomposes as
    // q_const + Σ w_i·c_i with q_const = Σ q_i·mn_i and w_i =
    // q_i·(mx_i−mn_i)/levels — both per-QUERY constants (the FAISS ADC
    // table, as columns). The per-candidate hot loop is then ONE fused
    // codegen'd (double, int) dot product over the raw codes: no
    // dequantized array, no per-element codebook lookups, no interpreted
    // HOF in the O(candidates) inner loop.
    val (qConst, wCol) = adcQueryConsts(levels)
    val wq = probes.crossJoin(broadcast(codebook))
      .select(col("query_id"), col("q_emb"), col("cell"),
        qConst.as("q_const"), wCol.as("w"),
        norm(col("q_emb")).as("q_norm"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val candidates = wq
      .join(postings, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_cos",
        try_divide(col("q_const") + dot(col("w"), col("codes")),
          col("q_norm") * col("code_norm")))
      .withColumn("cr", row_number().over(wCand))
      .filter(col("cr") <= k * rerankFactor)
      .select(col("query_id"), col("q_emb"), col("neighbor_id"))
    // refine: exact embeddings re-read by candidate id only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    candidates
      .join(embeddings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Number of independent LSH tables needed so a pair at exactly
    * `threshold` cosine collides in ≥1 table with probability
    * ≥ targetRecall. Per-plane agreement probability for angle θ is
    * 1 − θ/π (Goemans–Williamson); a `planes`-bit table matches with
    * p^planes; L tables: recall = 1 − (1 − p^planes)^L. */
  def lshTablesFor(threshold: Double, planes: Int, targetRecall: Double = 0.9): Int = {
    val p = 1.0 - math.acos(threshold.max(-1.0).min(1.0)) / math.Pi
    val bandMatch = math.pow(p, planes)
    math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-bandMatch)).toInt)
  }

  /** The hyperplane family as a TABLE: one row per plane id, the ±1
    * components materialized as an array. Bit-compatible with
    * [[lshSignature]] (same xxhash64(plane·4096 + i) parity, both sides
    * int-typed — pinned equal in SimilaritySpec), but turns signature
    * computation into `embeddings × broadcast(planes)` with the native
    * codegen'd dot product — the interpreted per-element HOF of
    * [[lshSignature]] is fine for 8 planes, ruinous for the hundreds a
    * multi-table scheme needs. */
  def hyperplanes(spark: SparkSession, nPlanes: Int, dim: Int): DataFrame = {
    import spark.implicits._
    (0 until nPlanes).toDF("plane")
      .select(col("plane"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => when(pmod(xxhash64(col("plane") * 4096 + i), lit(2)) === 0, 1.0)
            .otherwise(-1.0).cast("float")).as("plane_vec"))
  }

  /** Near-dup pairs at corpus scale: multi-table hyperplane LSH. Each of L
    * independent tables buckets the corpus by a `planes`-bit signature;
    * candidates = pairs sharing a bucket in ANY table (equi-join on
    * (table, bucket) — no n² expansion); candidates are verified with exact
    * cosine, so precision is 1 and every emitted score is exact. L is
    * derived from the threshold so a pair exactly at `threshold` is
    * recalled with probability ≥ targetRecall (OR-amplification; closer
    * pairs recall higher).
    *
    * Plan shape: broadcast the (L·planes)-row hyperplane table, one codegen
    * dot product per (vector, plane), pack sign bits into per-table buckets
    * with a hash aggregate, equi-join on (table, bucket), then verify the
    * deduped candidate ids against the corpus re-joined by id. Every join
    * is equi; nothing quadratic.
    *
    * Scale shape — two knobs keep this sub-quadratic as the corpus grows:
    * (1) `planes` defaults to log₂(n/4), so the bucket count grows WITH the
    * corpus and per-bucket occupancy (hence per-table candidate count)
    * stays constant — a fixed plane count would make candidates grow as
    * n²/2^planes (measured: 67× cost at 16× data before auto-scaling);
    * (2) tight thresholds (real near-dups, cos ≥ 0.9) need few tables and
    * prune hard, while loose thresholds (like the 0.35 the sf fixtures need
    * for non-empty output) need L≈100+ tables and the candidate set
    * approaches all-pairs, because pairs that dissimilar genuinely hash
    * together — a property of the operator class, not this implementation.
    * When the threshold×corpus regime demands more than the 1024-table
    * broadcast budget at the occupancy-optimal plane count, the plane
    * count is TIGHTENED to the largest feasible value (the table count is
    * re-derived, so the recall contract is unchanged; candidates grow ×2
    * per dropped plane — graceful throughput degradation instead of an
    * error). At 100 TB run this with a tight threshold; [[cosineNearDups]]
    * is the small-sample oracle. */
  def cosineNearDupsLSH(embeddings: DataFrame, threshold: Double,
                        planes: Int = 0, dim: Int = 64,
                        targetRecall: Double = 0.9): DataFrame = {
    val spark = embeddings.sparkSession
    val nPlanes =
      if (planes > 0) planes
      else { // auto: bucket count ~ n/4 so occupancy is scale-invariant
        val n = embeddings.count().max(2L)
        math.max(8, math.ceil(math.log(n / 4.0) / math.log(2.0)).toInt)
      }
    // Feasible-envelope degradation (VERDICT r12 #2): a loose threshold at
    // large n can demand an absurd table count at the occupancy-optimal
    // plane count (sf1 fired the old fail-fast here: 0.35 at 13 auto-planes
    // ⇒ 1311 > 1024 tables). Rather than erroring, TIGHTEN the plane count
    // to the largest value whose table budget fits: fewer planes → coarser
    // buckets → each table recalls more, so the SAME ≥targetRecall contract
    // holds with ≤ MaxTables tables (lshTablesFor is re-derived at the
    // tightened count). The cost is candidate-set growth (×2 per dropped
    // plane), i.e. graceful throughput degradation with recall and
    // precision unchanged — LshFeasibilitySpec pins both. Only a
    // degenerate threshold (→ −1, per-plane agreement → 0) stays an error.
    val maxTables = 1024
    val feasiblePlanes = Iterator.iterate(nPlanes)(_ - 1)
      .find(p => p <= 1 || lshTablesFor(threshold, p, targetRecall) <= maxTables)
      .get.max(1)
    val tables = lshTablesFor(threshold, feasiblePlanes, targetRecall)
    require(tables <= maxTables,
      s"cosineNearDupsLSH: threshold=$threshold needs $tables LSH tables even at " +
        "1 plane — per-plane agreement is ~0 at this threshold; the operator " +
        "class cannot prune it (run the exact cosineNearDups on a sample)")
    val nPl = feasiblePlanes
    val hp = hyperplanes(spark, tables * nPl, dim) // plane id = table·planes + bit
    val banded = embeddings.join(broadcast(hp))
      .select(col("vec_id"), (col("plane") / nPl).cast("int").as("table"),
        when(dot(col("embedding"), col("plane_vec")) > 0,
          call_function("shiftleft", lit(1L), pmod(col("plane"), lit(nPl))))
          .otherwise(lit(0L)).as("bit"))
      .groupBy(col("vec_id"), col("table"))
      .agg(sum(col("bit")).as("bucket"))
    val a = banded.withColumnRenamed("vec_id", "id_a")
    val b = banded.withColumnRenamed("vec_id", "id_b")
    val cands = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair colliding in several tables is verified once
    cands
      .join(embeddings.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("emb_a"), col("emb_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-label element-wise mean embedding — the class-centroid table that
    * seeds cluster-balanced sampling, nearest-centroid pruning and
    * embedding-drift monitoring. Emitted long-form (label, dim, mean_val,
    * n_vecs): dim-major rows instead of a re-packed array, so the result is
    * oracle-hashable and joins directly against exploded vectors.
    *
    * Exact cross-engine arithmetic: each component is rounded to 6 dp and
    * summed as DECIMAL (the dsum rule used by the surprisal oracle), so the
    * mean is independent of partition order — a plain double `avg` would
    * drift in the last bits per run. One posexplode + one (label, dim) hash
    * aggregate; the exploded tier is n·dim rows but partial (map-side)
    * aggregation collapses it to |labels|·dim before the only shuffle. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("bigint").as("dim"),
        round(col("col").cast("double"), 6).cast("decimal(18,6)").as("v"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("v")).as("s"))
      .select(col("label"), col("dim"),
        round(col("s").cast("double") / col("n_vecs"), 6).as("mean_val"),
        col("n_vecs"))
      .orderBy(col("label"), col("dim"))

  /** Embedding outlier detection against the per-label centroid — the
    * mislabeled/noisy-vector hunt a curation pipeline runs before training
    * on labeled embeddings: each vector's cosine to its OWN label's
    * centroid, z-scored within the label, flagged at z ≤ −3 (a vector
    * three sigma LESS similar to its own class center than its peers is a
    * labeling error or encoder glitch candidate).
    *
    * Cross-engine exactness chain: centroids are the [[labelCentroids]]
    * decimal-exact rounded means (identical values both engines by the
    * proven q_label_centroids gate), re-nested position-ordered; cosine at
    * round-4 is the proven q_ann_brute arithmetic; the z verdict gates on
    * the ROUNDED published mean/std (the hourlyAnomalies boundary rule,
    * including the n ≥ 2 stddev guard).
    *
    * Scale shape: the centroid table is (labels × dim)-sized and
    * broadcasts; scoring is one map-side codegen'd cosine per row; the
    * label-window stats run over label-partitioned data — nothing
    * corpus-sized shuffles except the one label partition pass. */
  def centroidOutliers(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = labelCentroids(embeddings)
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mean_val")))).as("c"))
      .select(col("label"),
        transform(col("c"), s => s.getField("mean_val")).as("centroid"))
    // + 0.0 normalizes IEEE negative zero: a cosine (or z) a hair below
    // zero rounds to -0.0 on one engine and 0.0 on the other (observed at
    // sf1, 5/20000 vectors) — numerically equal, printed differently
    val scored = embeddings
      .join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        (round(cosine(col("embedding").cast("array<double>"), col("centroid")), 4)
          + lit(0.0)).as("cos_centroid"))
    val w = Window.partitionBy(col("label"))
    scored
      .withColumn("mean_cos", round(avg(col("cos_centroid")).over(w), 4))
      .withColumn("std_cos",
        when(count(lit(1)).over(w) >= 2,
          round(stddev_samp(col("cos_centroid")).over(w), 4)))
      .select(col("vec_id"), col("label"), col("cos_centroid"),
        when(col("std_cos") > 0.0,
          round((col("cos_centroid") - col("mean_cos")) / col("std_cos"), 4)
            + lit(0.0))
          .as("z_score"))
      .withColumn("is_outlier", coalesce(col("z_score") <= -3.0, lit(false)))
      .orderBy(col("vec_id"))
  }

  /** 1-NN label-consistency audit — the standard label-noise estimate over
    * labeled embeddings: for a deterministic probe set (vec_id %
    * `probeMod` = 0), find each probe's exact nearest neighbor (excluding
    * itself) and tally the (own label × neighbor label) confusion matrix.
    * Diagonal mass ≈ label/encoder coherence; a hot off-diagonal cell is a
    * systematically confused class pair (or a labeling-pipeline bug).
    *
    * Exactness: the argmax is the q_ann_brute pattern — round-4 cosine
    * ranked with the neighbor-id tiebreak via one max(struct) (the id
    * makes the order total, so the appended label rides along without
    * ever deciding a comparison). Shares: integer counts over the
    * label-window total, round-4.
    *
    * Scale shape: the probe side is guarded (≤ [[MaxProbeQueries]], the
    * bruteForceTopK rule) and broadcasts; the corpus streams past it
    * map-side; everything after the per-probe argmax is |labels|²-sized. */
  def knnLabelAudit(embeddings: DataFrame, probeMod: Int = 10): DataFrame = {
    val probes = embeddings
      .filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
      .pinTier
    val nProbes = probes.count()
    require(nProbes <= MaxProbeQueries,
      s"knnLabelAudit: $nProbes probes exceeds MaxProbeQueries=" +
        s"$MaxProbeQueries — raise probeMod (the audit costs |Q|·|corpus|)")
    val nn = broadcast(probes)
      .join(graft.Tier.widen(
          embeddings.select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label"), col("embedding").as("c_emb"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_label"),
        struct(round(cosine(col("q_emb"), col("c_emb")), 4).as("cos"),
          (-col("neighbor_id")).as("nid"), col("n_label").as("nl")).as("s"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(max(col("s")).as("best"))
    nn.groupBy(col("q_label").as("label"), col("best.nl").as("nn_label"))
      .agg(count(lit(1)).as("n_probes"))
      .withColumn("share",
        round(col("n_probes") / sum(col("n_probes")).over(
          Window.partitionBy(col("label"))), 4))
      .orderBy(col("label"), col("nn_label"))
  }

  /** Per-label embedding drift between the two corpus halves (vec_id
    * parity): cosine between each half's label centroid — the "did the
    * encoder/distribution move" check run between snapshots or pipeline
    * versions, here in its self-audit form (a healthy corpus's halves are
    * statistically identical, so cos ≈ 1; a label whose halves diverge is
    * the drift signal). Centroids are the [[labelCentroids]] decimal-exact
    * rounded means; the comparison is the round-4 cosine — both proven
    * oracle arithmetic. Labels present in only one half report a null
    * drift (no comparison exists).
    *
    * Scale shape: two labelCentroids passes (each one shuffle into a
    * (labels × dim)-sized aggregate) + a labels-sized join — nothing else
    * touches corpus cardinality. */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    def half(side: Int): DataFrame =
      labelCentroids(embeddings.filter(pmod(col("vec_id"), lit(2)) === side))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("dim"), col("mean_val")))).as("c"),
          max(col("n_vecs")).as("n"))
        .select(col("label"),
          transform(col("c"), s => s.getField("mean_val")).as("centroid"),
          col("n"))
    half(0).withColumnsRenamed(Map("centroid" -> "cent_a", "n" -> "n_a"))
      .join(half(1).withColumnsRenamed(Map("centroid" -> "cent_b", "n" -> "n_b")),
        Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("cent_a").isNotNull && col("cent_b").isNotNull,
          round(cosine(col("cent_a"), col("cent_b")), 4)).as("cos_drift"))
      .orderBy(col("label"))
  }

  /** Fixed-round spherical k-means over the embedding corpus — the
    * embedding-space clustering a curation pipeline uses for
    * cluster-balanced sampling, topic discovery, and as the cell structure
    * semantic dedup / IVF search confine their quadratics to. "Spherical":
    * assignment is by COSINE to the centroid (argmax), the natural metric
    * for normalized text embeddings.
    *
    * Determinism contract (every leg a proven oracle pattern):
    *   - init: the k lowest vec_ids seed the clusters, and the cluster id
    *     IS the seed's vec_id (no renumbering round to drift);
    *   - assignment: round-4 cosine (the q_ann_brute arithmetic), ties to
    *     the lowest cluster id via the max(struct) total order (the LPA
    *     argmax rule) — never a float equality;
    *   - update: per-dimension decimal-exact rounded mean (the
    *     q_label_centroids formula), so centroids are identical
    *     cross-engine regardless of partition order;
    *   - fixed `rounds` assignment passes with an update between
    *     consecutive ones (the k-core bounded-round precedent), so the
    *     oracle unrolls the identical recurrence. Clusters that lose all
    *     members simply drop out (no re-seeding round to replicate).
    *
    * Scale shape: centroids are a k-row broadcast; assignment is one
    * map-side cosine per (row × k) — no shuffle beyond the per-round
    * argmax aggregate; the update is the posexplode tier with map-side
    * partial aggregation collapsing n·dim rows to k·dim before the only
    * exchange. Each round's centroid table is pinned: it is both an
    * optimizer barrier (the cosine must not fold into the next round's
    * aggregate) and the guarantee the update runs once, not once per
    * downstream consumer. */
  def kMeansSpherical(embeddings: DataFrame, k: Int = 8,
                      rounds: Int = 3): DataFrame =
    kMeansSphericalModel(embeddings, k, rounds)._1.orderBy(col("vec_id"))

  /** The same recurrence with its FINAL codebook exposed alongside the
    * assignment — `(assign(vec_id, cluster, cos_sim), centroids(cid,
    * centroid))`. [[graft.sim.Pq.ivfPqTopK]] needs the centroids to form
    * residuals; q_kmeans keeps consuming the assignment-only wrapper, so
    * its oracle recurrence is untouched. Unordered: callers order at
    * their own gate. */
  private[graft] def kMeansSphericalModel(
      embeddings: DataFrame, k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    // fail fast like TopKAggregator/kAnonymity: rounds = 0 would return
    // the null pre-loop assignment and k <= 0 an empty frame — both
    // silent wrong answers, not configurations
    require(k >= 1 && rounds >= 1,
      s"kMeansSpherical: need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .pinTier // consumed by every round's assignment + update. NOT widened
               // (r17 A/B, VERDICT r16 #1): the r16 widen here measured
               // 1.3–1.5× slower at the driver config (q_kmeans 3.2 vs 2.2,
               // q_semantic_dedup 3.7 vs 2.5 s) — per-round repartition +
               // 32-task scheduling costs more than the one-task assignment
               // saves at fixture scale, and at real scan widths widen was
               // the identity anyway.
    var centroids = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"),
        transform(col("emb"), v => round(v, 6)).as("centroid"))
    var assign: DataFrame = null
    for (r <- 1 to rounds) {
      assign = assignSpherical(emb, centroids)
      if (r < rounds) {
        centroids = assign.join(emb, Seq("vec_id"))
          .select(col("cluster"), posexplode(col("emb")))
          .select(col("cluster"), (col("pos") + 1).as("dim"),
            round(col("col"), 6).cast("decimal(18,6)").as("v"))
          .groupBy(col("cluster"), col("dim"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .select(col("cluster").as("cid"), col("dim"),
            round(col("s").cast("double") / col("n"), 6).as("mv"))
          .groupBy(col("cid"))
          .agg(sort_array(collect_list(struct(col("dim"), col("mv")))).as("c"))
          .select(col("cid"),
            transform(col("c"), s => s.getField("mv")).as("centroid"))
          .pinTier
      }
    }
    (assign, centroids)
  }

  /** One spherical-assignment pass — the recurrence's inner step, shared
    * with consumers that assign against a FROZEN codebook (the standing
    * [[IvfPqIndex]] admits batches with the build-time centroids — the
    * standard no-retrain IVF admission): per vec_id the (round-4 cosine,
    * lowest-cid) argmax via the negated-struct max, one shuffle, no
    * window. `emb` must carry (vec_id, emb: array<double>). */
  private[sim] def assignSpherical(emb: DataFrame,
                                   centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cid"),
        round(cosine(col("emb"), col("centroid")), 4).as("cos_sim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("cid")).as("ncid"))).as("best"))
      .select(col("vec_id"),
        (-col("best.ncid")).cast("long").as("cluster"),
        col("best.cos_sim").as("cos_sim"))

  /** Matryoshka truncation audit (Kusupati et al. 2022, MRL): recall@k of
    * PREFIX-dim cosine retrieval against the exact full-dim top-k — the
    * measurement behind the hot/cold serving ladder (a 100 TB vector tier
    * keeps a short-prefix copy hot and full vectors cold; this row says
    * what each prefix width costs in retrieval quality, the same role
    * [[recallAudit]] plays for the quantized methods). One output row per
    * audited width: `(dim, n_probes, recall)`.
    *
    * Probe economics: the probe set is `vec_id % probeMod == 0` — the
    * [[knnLabelAudit]] fixed-sample contract (|probes|·|corpus| work, so
    * at scale the probe is a fixed SAMPLE, not a fixed fraction; excluded
    * from Stress for the same documented reason). Every comparison is
    * round-4 cosine with the neighbor-id tiebreak; recall is a ratio of
    * exact integer counts, rounded once at the report boundary. */
  def mrlAudit(embeddings: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64),
               k: Int = 10, probeMod: Int = 50): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1) && k >= 1 && probeMod >= 1,
      s"mrlAudit: need non-empty positive dims, k >= 1, probeMod >= 1")
    val probes = embeddings
      .filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // pinned: five topK legs stream this side through a BNLJ, and each
    // would otherwise re-scan it. NOT widened (r17 A/B, VERDICT r16 #1):
    // q_mrl_audit measured 3.4 s widened vs 1.8–2.5 s not — the five legs'
    // per-task work at fixture scale is trivial, so 5×32 scheduled tasks
    // cost more than 5×1 serial ones; at real scan widths widen was the
    // identity anyway.
    val corpus = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .pinTier
    def topK(dim: Option[Int]): DataFrame = {
      val (qe, ce) = dim match {
        case Some(d) => (slice(col("q_emb"), 1, d), slice(col("c_emb"), 1, d))
        case None    => (col("q_emb"), col("c_emb"))
      }
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cs").desc, col("neighbor_id"))
      probes.hint("broadcast")
        .join(corpus, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(qe, ce), 4).as("cs"))
        .filter(col("cs").isNotNull)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = topK(None).pinTier
    val nProbes = probes.agg(count(lit(1)).as("n_probes"))
    dims.map { d =>
      topK(Some(d))
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nProbes))
        .select(lit(d).as("dim"), col("n_probes"),
          round(col("n_hits") / (col("n_probes") * lit(k)).cast("double"), 4)
            .as("recall"))
    }.reduce(_ unionByName _).orderBy(col("dim"))
  }

  /** Embedding isotropy audit (Ethayarajh 2019 / Mu & Viswanath 2018's
    * common-mean diagnostic): the norm of the MEAN NORMALIZED vector —
    * ~0 for an isotropic (directionally balanced) embedding space, →1 as
    * the space collapses onto a common direction, the condition that
    * silently degrades every cosine-based stage upstream of this repo's
    * ANN/dedup family. One row: `(n_vecs, mean_norm, anisotropy)`.
    *
    * Exactness: per-vector normalized components round to 6 ONCE, the
    * per-dimension means are the decimal-exact q_label_centroids
    * formula, and only the two published magnitudes round (4) at the
    * boundary. One posexplode shuffle into a dim-sized aggregate —
    * linear, map-combined. */
  def isotropyAudit(embeddings: DataFrame): DataFrame = {
    val parts = embeddings
      .select(col("vec_id"),
        norm(col("embedding").cast("array<double>")).as("nrm"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("nrm"), col("pos"),
        round(col("col") / col("nrm"), 6).cast("decimal(18,6)").as("u"))
    val meanDims = parts
      .groupBy(col("pos"))
      .agg(round(sum(col("u")).cast("double") / count(lit(1)), 6).as("m"))
      .agg(sum(col("m") * col("m")).as("ss"))
    val norms = embeddings
      .select(round(norm(col("embedding").cast("array<double>")), 6)
        .cast("decimal(18,6)").as("n6"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("n6")).cast("double") / count(lit(1))).as("mean_nrm"))
    norms.crossJoin(broadcast(meanDims))
      .select(col("n_vecs"), round(col("mean_nrm"), 4).as("mean_norm"),
        round(sqrt(col("ss")), 4).as("anisotropy"))
  }

  /** Per-dimension scalar-quantization stats: ONE row holding the corpus
    * min and max per dimension as position-ordered arrays — the codebook
    * of [[sqQuantize]]. One shuffle over (dim, value) pairs into a
    * dim-sized aggregate; the result broadcasts (2 doubles per dim,
    * regardless of corpus size). */
  private[sim] def sqStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mn")))).as("lo"),
        sort_array(collect_list(struct(col("pos"), col("mx")))).as("hi"))
      .select(transform(col("lo"), s => s.getField("mn")).as("mns"),
        transform(col("hi"), s => s.getField("mx")).as("mxs"))

  /** The shared code formula: floor-of-shifted-midpoint instead of
    * round(), so both engines hit the same integer on every boundary
    * (round() is HALF_UP in Spark, banker's in some engines — floor(x+0.5)
    * is one IEEE expression everywhere). Degenerate dimensions
    * (min = max) code to 0. */
  private def sqCode(v: Column, mn: Column, mx: Column, levels: Int): Column =
    when(mx === mn, lit(0.0)).otherwise(
      floor((v.cast("double") - mn) / (mx - mn) * lit(levels.toDouble) + lit(0.5)))

  /** The shared coding/decoding/ADC expression trees, factored so every
    * consumer — [[sqQuantize]], [[ivfSqTopK]], and the standing
    * [[IvfIndex]] compressed tier — builds the BYTE-IDENTICAL Column tree
    * (the exact-equality pins between retrain and standing forms depend on
    * it). All three expect the codebook columns `mns`/`mxs` in scope. */
  private[sim] def sqCodesExpr(emb: Column, levels: Int): Column =
    transform(emb, (v, i) =>
      sqCode(v, element_at(col("mns"), i + lit(1)),
        element_at(col("mxs"), i + lit(1)), levels).cast("int"))

  private[sim] def sqDequantExpr(codes: Column, levels: Int): Column =
    transform(codes, (c, i) => {
      val mn = element_at(col("mns"), i + lit(1))
      val mx = element_at(col("mxs"), i + lit(1))
      mn + c.cast("double") * (mx - mn) / lit(levels.toDouble)
    })

  /** Per-query ADC lookup-table constants (q_const, w) for a `q_emb`
    * column: dot(q, dequant(c)) = q_const + Σ w_i·c_i — exact for ANY
    * integer code (affine identity), so out-of-range codes from admitted
    * vectors extrapolate instead of corrupting. */
  private[sim] def adcQueryConsts(levels: Int): (Column, Column) = (
    dot(col("q_emb").cast("array<double>"), col("mns")),
    zip_with(col("q_emb").cast("array<double>"),
      zip_with(col("mxs"), col("mns"), (mx, mn) => mx - mn),
      (q, d) => q * d / lit(levels.toDouble)))

  /** Scalar (8-bit) quantization of the embedding column — the memory
    * layout a 100 TB ANN corpus actually ships: 4 bytes/dim float32 down
    * to 1 byte/dim, per-dimension affine codes
    * `c_i = floor((v_i − min_i)/(max_i − min_i)·levels + 0.5)`.
    * Deterministic integer output (a pure function of the corpus), so the
    * gate is a full cross-engine oracle — no FP hash drift possible.
    * Map-side except the one dim-sized stats aggregate; the codebook
    * broadcasts. [[sqRoundTrip]] + the `ann_sq8` recall-audit row measure
    * what the 8-bit representation costs in retrieval quality. */
  def sqQuantize(embeddings: DataFrame, levels: Int = 255): DataFrame =
    embeddings.crossJoin(broadcast(sqStats(embeddings)))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("bigint").as("n_dims"),
        sqCodesExpr(col("embedding"), levels).as("codes"))
      .orderBy(col("vec_id"))

  /** Quantize-then-dequantize round trip: each component snapped to its
    * 8-bit grid point `min_i + c_i·(max_i − min_i)/levels` (array<double>
    * — feed straight back into [[bruteForceTopK]]/cosine). The retrieval
    * cost of the compressed layout is audited as the `ann_sq8` row of
    * [[recallAudit]]. */
  def sqRoundTrip(embeddings: DataFrame, levels: Int = 255): DataFrame =
    embeddings.crossJoin(broadcast(sqStats(embeddings)))
      .select(col("vec_id"),
        transform(col("embedding"), (v, i) => {
          val mn = element_at(col("mns"), i + lit(1))
          val mx = element_at(col("mxs"), i + lit(1))
          mn + sqCode(v, mn, mx, levels) * (mx - mn) / lit(levels.toDouble)
        }).as("embedding"))

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    * a k-means coarse quantizer cells the embedding space, exact cosine runs
    * only WITHIN each cell, and a vector is dropped when a lower-id
    * cell-mate sits above the threshold — near-dup semantics by meaning,
    * not text, which catches paraphrases that every shingle scheme misses.
    *
    * Scale shape — the whole point of the cell pass: the quadratic
    * comparison is confined to each cell (n²/nlist per cell in expectation,
    * tunable by nlist), reached by an equi-join on the cell id; the
    * centroid table broadcasts.
    *
    * Cells come from [[kMeansSpherical]] (r10 — previously the spark.ml
    * Lloyd quantizer): the fixed-round spherical recurrence is
    * deterministic AND oracle-replicable (the q_kmeans unroll), which
    * graduates q_semantic_dedup to a full DuckDB recompute of every
    * verdict — and cosine cells match SemDeDup's own setting (the paper
    * clusters normalized embeddings, where Euclidean ≡ cosine order).
    * SimilaritySpec keeps the algebraic properties pinned: every dropped
    * vector has a verified lower-id partner at ≥ threshold, keeps are
    * monotone in the threshold.
    * Output: (vec_id, cell, keep) for the full corpus. */
  def semanticDedup(embeddings: DataFrame,
                    nlist: Int = 16, threshold: Double = 0.8,
                    rounds: Int = 3): DataFrame = {
    // pin the assignment: the join reads it twice (both pair sides) and the
    // verdict join a third time — unpinned, the k-means rounds (and the
    // scan under them) would re-run per consumer
    val assigned = embeddings.select(col("vec_id"), col("embedding"))
      .join(kMeansSpherical(embeddings, k = nlist, rounds = rounds)
        .select(col("vec_id"), col("cluster").as("cell")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .pinTier
    cellConfinedDedup(assigned, threshold)
  }

  /** The cell-confined compare + verdict shared by the oracle-gated and
    * corpus-scale SemDeDup forms (input: pinned (vec_id, embedding,
    * cell)). */
  private def cellConfinedDedup(assigned: DataFrame,
                                threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("emb_a"), col("emb_b")), 4) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(1))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
        when(col("dropped").isNull, 1).otherwise(0).cast("int").as("keep"))
      .orderBy(col("vec_id"))
  }

  /** The CORPUS-SCALE SemDeDup configuration — the r11 x32 stress row
    * exposed the boundary: the oracle-gated form's FIXED `nlist` turns
    * the within-cell compare quadratic the moment the corpus outgrows
    * its cells (measured 39.9x at x32 — Σ|cell|² ≈ n²/nlist). This form
    * scales the cell count by the FAISS occupancy rule `nlist ≈ 4·√n`
    * (one column-pruned count), putting
    * both cost legs in the n^1.5 class — assignment n·nlist map-side
    * flops against broadcast centroids, within-cell pairs n²/nlist —
    * with shuffle volume linear in n throughout. The quantizer is
    * spark.ml KMeans (the IVF path; BLAS-backed), not the decimal-exact
    * fixed-round recurrence — which is exactly why this form cannot
    * graduate: seeded init + float assignment ties are
    * quantizer-specific (the documented q_ann_* refusal), while the
    * gate's fixed-nlist twin keeps the full DuckDB oracle. Same output
    * contract: (vec_id, cell, keep). */
  def semanticDedupScaled(embeddings: DataFrame,
                          threshold: Double = 0.8,
                          seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = embeddings.select(col("vec_id")).count()
    val nlist = math.max(16, math.ceil(4.0 * math.sqrt(n.toDouble)).toInt)
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("v", array_to_vector(col("embedding")))
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val assigned = km.fit(vecs).transform(vecs)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .pinTier
    cellConfinedDedup(assigned, threshold)
  }

  /** Hybrid retrieval — BM25 ∪ exact-cosine candidate pools fused with
    * reciprocal-rank fusion (Cormack et al. 2009: rrf = Σ 1/(60+rank)),
    * the standard lexical+semantic serving pattern. Fusion is RANK-based,
    * so the fused ordering carries zero float-comparison risk across
    * engines: both legs rank on already-ROUNDED scores with id
    * tiebreaks, and the rrf arithmetic is exact IEEE division.
    *
    * Scale shape: the BM25 leg's bounded pipeline (see
    * [[graft.text.TextAnalysis.bm25TopK]]); the semantic leg is ONE
    * broadcast query vector against a map-side corpus scan + TakeOrdered
    * (the guarded-brute class confined to a single query — k·|corpus|
    * flops, no pair join); the fuse is a poolK-row full-outer join. */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                queryTerms: Seq[String], queryVecId: Long, k: Int = 20,
                poolK: Int = 50, kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.text.TextAnalysis.bm25TopK(documents, queryTerms, poolK)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).as("lex_rank"))
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val sem = embeddings.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cs"))
      .filter(col("cs").isNotNull)
      .orderBy(col("cs").desc, col("doc_id")).limit(poolK)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("cs").desc, col("doc_id"))).as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(coalesce(lit(1.0) / (col("lex_rank") + lit(kRrf)), lit(0.0))
          + coalesce(lit(1.0) / (col("sem_rank") + lit(kRrf)), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
  }

  /** Hard-negative mining for embedding-model training (the DPR/ANCE
    * "BM25 negatives" recipe, Karpukhin et al. 2020): documents the
    * LEXICAL ranker retrieves for a query that the CURRENT embedding does
    * NOT place in its semantic pool — plausible-but-unranked candidates,
    * the highest-gradient negatives for contrastive training (random
    * negatives are trivially separable; these are not). The set shape is
    * [[hybridRrf]]'s two pools with the join flipped to ANTI: lexical
    * top-`poolK` minus semantic top-`poolK`, ranked by BM25 strength.
    * Emits `(doc_id, lex_rank, score)` — at most poolK rows per query by
    * construction, so the downstream triple writer is bounded.
    *
    * Scale shape: both pools are TakeOrdered over term-pruned/map-side
    * scans (the q_bm25/q_hybrid_rrf plans); the anti join is between two
    * ≤poolK-row pools — nothing corpus-sized moves. */
  def hardNegatives(documents: DataFrame, embeddings: DataFrame,
                    queryTerms: Seq[String], queryVecId: Long,
                    poolK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.text.TextAnalysis.bm25TopK(documents, queryTerms, poolK)
      .select(col("doc_id"), col("score"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).as("lex_rank"))
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    // the query vector is excluded from its own semantic pool: its
    // self-cosine of 1.0 would otherwise burn one of the poolK slots and
    // displace a genuine semantic candidate across the pool boundary —
    // mislabeling it a "hard negative" when the embedding DID rank it
    val sem = embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cs"))
      .filter(col("cs").isNotNull)
      .orderBy(col("cs").desc, col("doc_id")).limit(poolK)
      .select(col("doc_id"))
    lex.join(sem, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lex_rank"), col("score"))
      .orderBy(col("lex_rank"))
  }

  /** Row cap for the exact quadratic baselines ([[cosineNearDups]], an
    * unfiltered [[bruteForceTopK]]): at this size the all-pairs triangle
    * is ~2×10⁸ pairs — seconds on one box, and the largest probe any audit
    * needs. Beyond it the caller is pointing an O(n²) oracle at a corpus;
    * the guard makes the documented design intent ("small-sample baseline
    * only; [[cosineNearDupsLSH]]/[[ivfTopK]] are the corpus paths")
    * enforceable instead of advisory. */
  val MaxExactRows: Long = 20000L

  /** Embedding-cosine near-dup pairs: all (a < b) with cosine ≥ threshold,
    * `cos_sim` rounded to 4 places. O(n²) in corpus size — this is the
    * small-sample ORACLE BASELINE only (sf0.01-scale correctness checks and
    * the recall denominator in SimilaritySpec); the corpus-scale path is
    * [[cosineNearDupsLSH]]. Runs as the packed pair kernel [[CosinePairs]]:
    * one bounded collect (which is also the fail-fast row guard: more than
    * `maxExactRows` input rows, null ids included, are refused rather than
    * launching a quadratic job at corpus scale), one Spark job over the
    * pairs, and the rounding and threshold filter on the candidates only.
    * Rows with a null `vec_id` or a null embedding pair with nothing. A zero
    * or empty vector pairs with nothing either, with ANSI mode on or off:
    * its cosine is a `try_divide` by ‖a‖·‖b‖, and the filter drops the
    * null. A NaN element gives NaN pairs, which Spark's `NaN >= t` keeps. */
  def cosineNearDups(embeddings: DataFrame, threshold: Double,
                     maxExactRows: Long = MaxExactRows): DataFrame =
    CosinePairs.nearDups(embeddings, threshold, maxExactRows)

  /** Driver-gated recall audit for the three approximate similarity paths
    * — each measured against the property it actually promises:
    *   - `ann_ivf` ([[ivfTopK]]): overlap with the exact top-k (the
    *     data-adaptive cells should recover most true neighbors even at
    *     nprobe/nlist = 1/4 of the cells);
    *   - `ann_lsh` ([[lshTopK]]): planted-clone recall — identical vectors
    *     hash to the SAME bucket with probability 1, so each query's
    *     planted exact duplicate must come back at rank 1 with cos 1.0.
    *     (Global top-k overlap is NOT this single-table config's contract:
    *     on near-uniform vectors one 8-plane table prunes true neighbors
    *     aggressively by design — the multi-table OR-amplification in
    *     [[cosineNearDupsLSH]] is the high-recall form, audited next.)
    *   - `cosine_lsh` ([[cosineNearDupsLSH]]): fraction of exact ≥threshold
    *     pairs recovered (the L tables are derived to put this ≥ 0.9).
    * The recall invariants previously lived only in SimilaritySpec; this
    * query puts them behind the driver's oracle gate, so a recall
    * regression fails CORRECTNESS, not just CI. The gate checks the
    * PROMISE, not the sample: each row carries the method's contractual
    * `min_recall` (the same bound SimilaritySpec asserts — IVF 0.5 at
    * nprobe/nlist = 4/8, clone-LSH 1.0, multi-table LSH 0.9) and a
    * `recall_ok` verdict; the oracle recomputes `n_exact` independently
    * and pins `recall_ok = true`. A config change that legitimately moves
    * the observed recall needs no oracle edit as long as the promise
    * still holds; a drop below the bound goes red on both engines'
    * terms. (Observed n_hits/recall at the r5 gate, for the record:
    * ivf 59/100, clone-lsh 10/10, cosine_lsh 251/272.)
    *
    * Scale shape: the audit runs on a FIXED `auditRows`-vector probe
    * (deterministic id slice — exactly the whole corpus at the sf0.01
    * gate). Recall is a property of the algorithm configuration, not the
    * corpus size, so the audit stays O(1) however large the table grows;
    * the quadratic exact sides are confined to the probe. */
  def recallAudit(spark: SparkSession, embeddings: DataFrame,
                  queryIds: Seq[Long] = 0L to 9L, k: Int = 10,
                  threshold: Double = 0.35, auditRows: Long = 500L): DataFrame = {
    // pinned: the exact sides and every approx path re-read the probe
    val emb = embeddings.filter(col("vec_id") < auditRows).pinTier
    val exactTopK = bruteForceTopK(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id")).pinTier
    val exactPairs = cosineNearDups(emb, threshold)
      .select(col("id_a"), col("id_b")).pinTier
    def audit(method: String, minRecall: Double, approx: DataFrame,
              exact: DataFrame, keys: Seq[String]): DataFrame =
      approx.select(keys.map(col): _*)
        .join(exact, keys, "leftsemi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(lit(method).as("method"), col("n_exact"),
          lit(minRecall).as("min_recall"),
          (col("n_hits").cast("double") / col("n_exact") >= lit(minRecall))
            .as("recall_ok"))
    // clone probe: vec_id + auditRows never collides with a real probe id.
    // The pass/fail unit is the QUERY, not the (query, clone) pair: the
    // bucket-collision promise is proven by ANY cos-1.0 neighbor in the
    // top-k (lshTopK only scores same-bucket candidates), whereas pinning
    // the clone id itself would flake when a query has ≥k natural
    // rounded-1.0 neighbors that all beat the high clone id on the
    // (cos desc, id asc) tie-break — see annContractAudit's clone leg.
    val clones = emb.filter(col("vec_id").isin(queryIds: _*))
      .withColumn("vec_id", col("vec_id") + lit(auditRows))
    val cloneExpect = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"))
    val cloneFound = lshTopK(emb.unionByName(clones), queryIds, k)
      .filter(col("cos_sim") === 1.0)
      .select(col("query_id")).distinct()
    audit("ann_ivf", 0.5, ivfTopK(spark, emb, queryIds, k), exactTopK,
        Seq("query_id", "neighbor_id"))
      .unionByName(audit("ann_ivf_sq", 0.5,
        ivfSqTopK(spark, emb, queryIds, k), exactTopK,
        Seq("query_id", "neighbor_id")))
      .unionByName(audit("ann_lsh", 1.0, cloneFound, cloneExpect,
        Seq("query_id")))
      .unionByName(audit("ann_sq8", 0.8,
        bruteForceTopK(sqRoundTrip(emb), queryIds, k), exactTopK,
        Seq("query_id", "neighbor_id")))
      .unionByName(audit("cosine_lsh", 0.9, cosineNearDupsLSH(emb, threshold),
        exactPairs, Seq("id_a", "id_b")))
      .orderBy(col("method"))
  }

  /** Driver-gated promise audit for [[cosineNearDupsLSH]] run over the
    * FULL corpus (the q_recall_audit `cosine_lsh` row audits a probe-only
    * run; this gate keeps the production full-corpus path exercised
    * end-to-end and pins its two contracts): recall ≥ `minRecall` of the
    * exact ≥threshold pairs, and precision 1 — every emitted pair inside
    * the probe must appear in the exact set WITH THE SAME rounded score
    * (the method ends in an exact verify, so a miss means the candidate
    * join corrupted ids or scores). Exact ground truth is confined to the
    * fixed `auditRows` probe per the [[recallAudit]] scale rule; the
    * oracle recomputes `n_exact` independently and pins both booleans. */
  def cosineLshCorpusAudit(embeddings: DataFrame, threshold: Double = 0.35,
                           minRecall: Double = 0.9,
                           auditRows: Long = 500L): DataFrame = {
    val exact = cosineNearDups(
        embeddings.filter(col("vec_id") < auditRows), threshold)
      .pinTier
    val lsh = cosineNearDupsLSH(embeddings, threshold)
      .filter(col("id_a") < auditRows && col("id_b") < auditRows)
      .pinTier
    val hits = lsh.select(col("id_a"), col("id_b"))
      .join(exact.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "leftsemi")
      .agg(count(lit(1)).as("n_hits"))
    val badPairs = lsh
      .join(exact, Seq("id_a", "id_b", "cos_sim"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
    hits.crossJoin(exact.agg(count(lit(1)).as("n_exact"))).crossJoin(badPairs)
      .select(lit("cosine_lsh_corpus").as("method"), col("n_exact"),
        lit(minRecall).as("min_recall"),
        (col("n_hits").cast("double") / col("n_exact") >= lit(minRecall))
          .as("recall_ok"),
        (col("n_bad") === 0).as("precision_ok"))
  }

  /** Driver-gated promise audit for PCA over the embedding corpus — the
    * dimensionality-reduction leg a production embedding pipeline runs
    * before clustering / ANN (and the third spark.ml surface next to ALS
    * and k-means). Principal-component VALUES are solver/BLAS-specific, so
    * the gate emits the solver-independent contract:
    *   - `n_vecs`: corpus size, recomputed by the oracle;
    *   - `orthonormal_ok`: the basis columns are unit-norm and pairwise
    *     orthogonal (checked on the k×dim parameter matrix — driver
    *     arithmetic on a model PARAMETER, not data);
    *   - `variance_ordered_ok`: explained variance is non-increasing in
    *     component order;
    *   - `proj_norm_ok`: over the FULL corpus, no projection exceeds its
    *     source norm (‖Pᵀx‖ ≤ ‖x‖ for an orthonormal P — a solver that
    *     emitted a non-isometric basis fails this distributed check).
    * Scale shape: one fit (covariance Gramian — one pass over the corpus)
    * plus one map-side transform + aggregate; nothing quadratic. */
  def pcaAudit(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val vecs = embeddings.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("v"))
    val model = new PCA().setK(k).setInputCol("v").setOutputCol("proj").fit(vecs)
    val pc = model.pc // dim × k, column-major
    val cols = Array.tabulate(pc.numCols)(j =>
      Array.tabulate(pc.numRows)(i => pc(i, j)))
    val orthonormal = (0 until pc.numCols).forall { a =>
      val na = math.sqrt(cols(a).map(x => x * x).sum)
      math.abs(na - 1.0) < 1e-8 && (a + 1 until pc.numCols).forall { b =>
        math.abs(cols(a).zip(cols(b)).map { case (x, y) => x * y }.sum) < 1e-8
      }
    }
    val ev = model.explainedVariance.toArray
    val ordered = ev.isEmpty ||
      ev.zip(ev.tail).forall { case (a, b) => a >= b - 1e-12 }
    val badNorms = model.transform(vecs)
      .select(vector_to_array(col("v")).as("x"),
        vector_to_array(col("proj")).as("p"))
      .filter(sqrt(dot(col("p"), col("p"))) >
        sqrt(dot(col("x"), col("x"))) + lit(1e-6))
      .agg(count(lit(1)).as("n_bad"))
    embeddings.agg(count(lit(1)).as("n_vecs")).crossJoin(badNorms)
      .select(lit("pca").as("method"), col("n_vecs"),
        lit(orthonormal).as("orthonormal_ok"),
        lit(ordered).as("variance_ordered_ok"),
        (col("n_bad") === 0).as("proj_norm_ok"))
  }

  /** Driver-gated promise audit for one ANN top-k path — the conversion of
    * the last five rows-only gates (r7 VERDICT "next" #8). Raw neighbor ids
    * are quantizer/hyperplane-specific (k-means cells, xxhash64 sign bits),
    * so the gate emits the path's portable contract instead, with the raw
    * top-k still pinned structurally in SimilaritySpec/IvfIndexSpec:
    *   - `n_queries`: the probe-set size, recomputed independently by the
    *     DuckDB oracle from the embeddings table;
    *   - `within_k_ok`: every emitted query id is in the probe set, with
    *     ≤ k rows ranked contiguously 1..n (row_number semantics survived
    *     the candidate joins);
    *   - `scores_exact_ok`: every emitted `cos_sim` equals the exact
    *     4-decimal cosine recomputed from the embeddings table — the
    *     "approximate candidate set, exact scores" re-rank promise;
    *   - `recall_ok`: overlap with the exact brute-force top-k ≥
    *     `minRecall` (the same floors `recallAudit` documents), or for
    *     `cloneRecall` paths (single-table LSH, whose contract is bucket
    *     collision, not global top-k — see [[recallAudit]] scaladoc) that
    *     every query's planted exact clone is retrieved at cosine 1.0.
    * Scale shape: all legs are bounded by the FIXED query probe — the
    * brute-force ground truth is |probe| × corpus (the `q_ann_brute`
    * baseline cost), the score re-check is bounded by the ≤ |probe|·k
    * output, and the clone leg re-runs the operator once with |probe|
    * extra rows. O(1) probes as the corpus grows, per the audit rule. */
  def annContractAudit(embeddings: DataFrame, method: String,
                       minRecall: Double, approx: DataFrame,
                       queryIds: Seq[Long] = 0L to 9L, k: Int = 10,
                       cloneRecall: Boolean = false): DataFrame = {
    val a = approx.pinTier // the ANN run materializes once
    val probe = embeddings.filter(col("vec_id").isin(queryIds: _*))
    val nQueries = probe.agg(count(lit(1)).as("n_queries"))
    // coverage rides along with the per-query shape check: a path that
    // silently emits ZERO rows for some probe queries has dropped them in a
    // candidate join — shape-of-emitted-rows alone can't see that, so the
    // distinct emitted query count must equal the probe-set size. EXCEPT
    // for cloneRecall (single-table LSH) paths: a probe query alone in its
    // bucket legitimately emits nothing — coverage there is the clone
    // leg's job (with clones planted, every query's bucket is non-empty
    // and must yield a cos-1.0 hit, counted per query below)
    val shape = a.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), min(col("rnk")).as("mn"), max(col("rnk")).as("mx"))
      .agg(
        count(when(col("n") > k || col("mn") =!= 1 || col("mx") =!= col("n"), 1))
          .as("n_bad_shape"),
        count(when(!col("query_id").isin(queryIds: _*), 1)).as("n_alien"),
        count(when(col("query_id").isin(queryIds: _*), 1)).as("n_covered"))
    val qe = embeddings.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val ne = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val badScores = a.join(qe, Seq("query_id")).join(ne, Seq("neighbor_id"))
      .filter(col("cos_sim") =!= round(cosine(col("qe"), col("ne")), 4))
      .agg(count(lit(1)).as("n_bad_scores"))
    val recall =
      if (cloneRecall) {
        // clone ids sit far above any fixture/stress id range (stress key
        // shifts top out at ~3.2e8). The contract is bucket collision:
        // identical vectors hash to the SAME bucket with probability 1, so
        // after planting an exact clone of every probe query, each query
        // must surface SOME cos-1.0 neighbor in its top-k — lshTopK only
        // ever scores same-bucket candidates, so any 1.0 hit proves the
        // collision. Requiring the hit to be the clone ITSELF would flake:
        // the clone id (query + off) loses every (cos desc, id asc)
        // tie-break, so a query with ≥k natural rounded-1.0 neighbors
        // could push the clone out of top-k while the promise still holds.
        val off = 1000000000L
        val clones = probe.withColumn("vec_id", col("vec_id") + lit(off))
        val found = lshTopK(embeddings.unionByName(clones), queryIds, k)
          .filter(col("cos_sim") === 1.0)
          .agg(count_distinct(col("query_id")).as("n_hits"))
        found.crossJoin(probe.agg(count(lit(1)).as("n_exact")))
      } else {
        val exact = bruteForceTopK(embeddings, queryIds, k)
          .select(col("query_id"), col("neighbor_id"))
        val hits = a.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
          .agg(count(lit(1)).as("n_hits"))
        hits.crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      }
    nQueries.crossJoin(shape).crossJoin(badScores).crossJoin(recall)
      .select(lit(method).as("method"), col("n_queries"),
        (col("n_bad_shape") === 0 && col("n_alien") === 0 &&
          (lit(cloneRecall) || col("n_covered") === col("n_queries")))
          .as("within_k_ok"),
        (col("n_bad_scores") === 0).as("scores_exact_ok"),
        (col("n_hits").cast("double") / col("n_exact") >= lit(minRecall))
          .as("recall_ok"))
  }

  /** Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998):
    * greedy top-k that trades relevance against redundancy —
    * `mmr(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` over the already
    * selected set S — the standard diversified-retrieval pass a serving
    * stack runs after the ANN/hybrid candidate stage (near-duplicate
    * hits crowd a plain top-k; MMR spreads the slate).
    *
    * Determinism contract (the hybridRrf discipline): relevance and every
    * pairwise sim are ROUNDED to 4 places in-cluster before the greedy
    * reads them; λ and (1−λ) are fixed IEEE doubles, so each `mmr` value
    * is an exact arithmetic image of rounded inputs and the argmax
    * (mmr DESC, vec_id) is engine-portable — the DuckDB oracle re-derives
    * all k greedy rounds as unrolled CTEs (the pagerank/kcore precedent).
    *
    * Scale shape: the corpus-scale work is the candidate pool — ONE
    * broadcast query vector against a map-side scan + TakeOrdered
    * (the single-query brute class, no pair join). The greedy itself is
    * inherently sequential and confined to the pool: pairwise sims are a
    * poolK×poolK broadcast join (≤ poolK² rounded rows), and selection
    * runs on the driver over that bounded pool — the documented
    * O(k)-bounded round-trip class ([[IvfIndex]]'s ≤nlist cell lists) —
    * guarded by `poolK ≤ 200` so nobody points the O(poolK²) rerank at a
    * corpus. */
  def mmrTopK(embeddings: DataFrame, queryVecId: Long, k: Int = 10,
              poolK: Int = 50, lambda: Double = 0.7): DataFrame = {
    require(poolK <= 200,
      s"mmrTopK: poolK=$poolK exceeds 200 — the rerank is O(poolK²) on a " +
        "bounded driver pool; widen recall via the candidate stage " +
        "(ivfTopK/hybridRrf), not the rerank pool")
    require(k <= poolK, s"mmrTopK: k=$k exceeds poolK=$poolK")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val pool = embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("rel"))
      .filter(col("rel").isNotNull)
      .orderBy(col("rel").desc, col("vec_id")).limit(poolK)
      .pinTier
    val a = pool.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = pool.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val simMap: Map[(Long, Long), Double] =
      a.join(broadcast(b), col("i") =!= col("j"))
        .select(col("i"), col("j"), round(cosine(col("ea"), col("eb")), 4).as("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cand = pool.select(col("vec_id"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    pool.unpersist(blocking = false)
    val oneMinus = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap.from(cand)
    for (r <- 1 to math.min(k, cand.length)) {
      val best = remaining.toSeq.map { case (id, rel) =>
        val penalty =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => simMap((id, s._2))).max
        (id, rel, lambda * rel - oneMinus * penalty)
      }.minBy { case (id, _, mmr) => (-mmr, id) }
      selected += ((r.toLong, best._1, best._2, best._3))
      remaining.remove(best._1)
    }
    selected.toSeq.toDF("rnk", "vec_id", "relevance", "mmr")
      .withColumn("mmr", round(col("mmr"), 6))
      .orderBy(col("rnk"))
  }
}
