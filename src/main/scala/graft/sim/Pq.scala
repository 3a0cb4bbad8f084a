package graft.sim

import graft.Tier.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI 2011) — the third leg of the
  * compressed-ANN family and the layout billion-vector corpora actually
  * ship: [[Similarity.sqQuantize]] compresses per-DIMENSION (1 byte/dim),
  * PQ compresses per-SUBSPACE (log2(ksub) bits per dsub dims — at the
  * defaults here, 64 float dims → 4 one-byte codes, a 64× reduction vs
  * SQ8's 4×). The reference has no ANN at all (its similarity surface is
  * the Mongo lookup loop, `YoutubeNetworkAgg_Final.py` §SURVEY 2.4); this
  * family is the SURVEY §2-beyond training-data-pipeline mandate.
  *
  * Every stage is deterministic and cross-engine replicable — the same
  * discipline that graduated SemDeDup/MinHash in r10: codebooks come from
  * a FIXED-ROUND per-subspace Lloyd's k-means seeded by the lowest
  * `ksub` vec_ids (the [[Similarity.kMeansSpherical]] recurrence with
  * round-4 Euclidean distance instead of cosine and the same
  * decimal-exact rounded centroid means), so the DuckDB oracle re-derives
  * codebooks, codes, ADC scores and the re-ranked top-k value-for-value.
  * No spark.ml, no RNG, no float-sum-order hazard survives the rounding
  * gates (dist round-4, centroid/LUT round-6 — the house constants).
  *
  * Scale shape:
  *  - train: per round one broadcast of the m·ksub codebook (tiny: 4·8
  *    subcentroids of 16 doubles) + one groupBy(vec_id, sub) argmin
  *    shuffle + one groupBy(sub, cluster, dim) mean shuffle — linear in
  *    the corpus, exactly the kMeansSpherical cost class with an m-way
  *    explode instead of a full-vector crossJoin (the per-row compare work
  *    DROPS: m·ksub subvector distances of dsub dims ≡ ksub full-vector
  *    distances, vs k full-vector distances per row in full k-means).
  *  - encode: one more assignment pass; the codes tier is what a 100 TB
  *    deployment persists (m bytes/vector).
  *  - probe ([[adcTopK]]): the query's LUT (m·ksub rounded dot products)
  *    broadcasts as ONE nested-array row; scoring is a map-side
  *    `aggregate` over each row's codes — zero joins, zero shuffles —
  *    into a TakeOrdered candidate pool, then the standard exact re-rank
  *    (the ivfSqTopK discipline: compressed scores select, exact cosine
  *    decides). Plan-pinned in PqSpec: no exchange before the candidate
  *    TakeOrdered.
  * At 100 TB the encoded tier replaces the raw-vector scan for the
  * candidate stage (64× less IO) and composes with [[IvfIndex]] cell
  * pruning (IVF-PQ) — the cells bound WHICH codes are scanned, the codes
  * bound the BYTES per candidate.
  */
object Pq {

  /** Explode a vector into its m subvectors: `(vec_id, sub, svec)` with
    * sub in 0..m-1 and svec the dsub-dim slice, cast double once at the
    * boundary (the q_kmeans rule: all downstream arithmetic in double). */
  def subvectors(embeddings: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"Pq.subvectors: dim=$dim must split into m=$m equal subspaces")
    val dsub = dim / m
    embeddings.select(
        col("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.as("sub"),
            slice(col("embedding").cast("array<double>"),
              s * dsub + lit(1), lit(dsub)).as("svec")))).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.svec").as("svec"))
  }

  /** Round-4 Euclidean distance between two double arrays — the PQ
    * assignment metric (cosine is meaningless on unnormalized subvectors).
    * sqrt-of-sum in both engines; round-4 absorbs accumulation-order
    * noise exactly as the cosine gates do. */
  private def dist(a: Column, b: Column): Column =
    round(sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)), 4)

  /** One assignment pass: per (vec_id, sub) the nearest centroid by
    * (round-4 distance, lowest-cid) — the kMeansSpherical argmax-via-
    * struct trick (min(struct(dist, cid))), one shuffle, no window. */
  private def assign(sv: DataFrame, codebooks: DataFrame): DataFrame =
    sv.join(broadcast(codebooks), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        struct(dist(col("svec"), col("centroid")).as("dist"),
          col("cid")).as("cand"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.cid").as("cid"), col("best.dist").as("dist"))

  /** Fixed-round per-subspace Lloyd's: returns the codebook
    * `(sub, cid, code, centroid)` — cid is the seeding vec_id (the
    * kMeansSpherical convention), code its 0-based rank within the
    * subspace's surviving centroids (the byte the encoded tier stores).
    * Centroid updates are the decimal-exact rounded means of
    * q_label_centroids; empty clusters drop out between rounds.
    *
    * Deliberately trains on the FULL corpus, not a Faiss-style sample:
    * each round is one map-side assignment pass (broadcast codebooks)
    * plus one aggregate — distributed and corpus-LINEAR, the same order
    * as the encode pass the build must pay anyway, so sampling buys
    * only a constant factor here (Faiss samples because its training is
    * single-node CPU-bound). Full-corpus training is what keeps the
    * DuckDB oracle an EXACT re-derivation at every scale (hash-green at
    * ×32 and ×100); a sampled trainer would trade that for the
    * constant. Revisit only if the train term ever dominates a measured
    * build split — it does not (×100: build 14.0 s of which train is a
    * minority against encode+ADC). */
  def train(embeddings: DataFrame, m: Int = 4, ksub: Int = 8,
            rounds: Int = 2, dim: Int = 64): DataFrame = {
    require(ksub >= 1 && rounds >= 1,
      s"Pq.train: need ksub >= 1 and rounds >= 1, got ksub=$ksub rounds=$rounds")
    // NOT widened (r17 A/B, VERDICT r16 #1): the unmeasured r16 widen of
    // this frame was re-measured at the driver config (sf0.1, local[32],
    // runs=2, two interleaved legs each way) — the ivf_pq gate family ran
    // 1.2–1.5× SLOWER with it (repartition + 32-task scheduling per train
    // round dwarfs the single-task assignment cosines at fixture scale);
    // at real scan widths widen was the identity anyway, so the revert
    // loses nothing at scale. Widen stays only on the broadcast-probe
    // BNLJ streamed sides (bruteForceTopK/knnLabelAudit), where the same
    // A/B measured it faster.
    val sv = subvectors(embeddings, m, dim).pinTier
    val seedW = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var codebooks = sv
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= ksub)
      .select(col("sub"), col("vec_id").as("cid"),
        transform(col("svec"), v => round(v, 6)).as("centroid"))
    for (r <- 1 until rounds) {
      val a = assign(sv, codebooks)
      codebooks = a.join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid"), posexplode(col("svec")))
        .select(col("sub"), col("cid"), (col("pos") + 1).as("dimn"),
          round(col("col"), 6).cast("decimal(18,6)").as("v"))
        .groupBy(col("sub"), col("cid"), col("dimn"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("dimn"),
          round(col("s").cast("double") / col("n"), 6).as("mv"))
        .groupBy(col("sub"), col("cid"))
        .agg(sort_array(collect_list(struct(col("dimn"), col("mv")))).as("c"))
        .select(col("sub"), col("cid"),
          transform(col("c"), s => s.getField("mv")).as("centroid"))
        .pinTier
    }
    val codeW = Window.partitionBy(col("sub")).orderBy(col("cid"))
    codebooks.withColumn("code", (row_number().over(codeW) - 1).cast("int"))
      .select(col("sub"), col("cid"), col("code"), col("centroid"))
  }

  /** Encode the corpus against a trained codebook: `(vec_id, codes)` with
    * codes[s+1] = the 0-based code of subspace s's nearest centroid — the
    * m-byte compressed representation. One assignment pass + one re-nest. */
  def encode(embeddings: DataFrame, codebooks: DataFrame,
             m: Int = 4, dim: Int = 64): DataFrame =
    assign(subvectors(embeddings, m, dim), // not widened — see train
        codebooks.select(col("sub"), col("cid"), col("centroid")))
      .join(broadcast(codebooks.select(col("sub"), col("cid"), col("code"))),
        Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code")))).as("c"))
      .select(col("vec_id"), transform(col("c"), s =>
        s.getField("code")).as("codes"))

  /** Train + encode as one gate-shaped result, ordered at the gate. */
  def pqCodes(embeddings: DataFrame, m: Int = 4, ksub: Int = 8,
              rounds: Int = 2, dim: Int = 64): DataFrame =
    encode(embeddings, train(embeddings, m, ksub, rounds, dim), m, dim)
      .orderBy(col("vec_id"))

  /** ADC top-k: score every encoded vector against the query's
    * per-subspace lookup table (dot(q_sub, centroid) ≈ the subspace's
    * contribution to dot(q, x)), take the top `rerank` candidates, then
    * re-rank them by EXACT round-4 cosine — compressed scores select,
    * exact scores decide (the ivfSqTopK contract). Output follows the ANN
    * family shape `(query_id, rnk, neighbor_id, adc_score, cos_sim)`.
    *
    * The LUT collapses to ONE broadcast row of nested arrays
    * (lut[sub+1][code+1], round-6), so candidate scoring is a map-side
    * `aggregate` over each row's own codes — no join, no shuffle, then
    * TakeOrdered(rerank). The exact leg touches only the candidate rows. */
  def adcTopK(embeddings: DataFrame, queryVecId: Long, k: Int = 10,
              rerank: Int = 50, m: Int = 4, ksub: Int = 8,
              rounds: Int = 2, dim: Int = 64): DataFrame = {
    require(k <= rerank,
      s"Pq.adcTopK: k=$k must not exceed the rerank pool ($rerank)")
    val codebooks = train(embeddings, m, ksub, rounds, dim).pinTier
    val codes = encode(embeddings, codebooks, m, dim)
    val qsub = subvectors(
      embeddings.filter(col("vec_id") === queryVecId), m, dim)
    // lut rows (sub, code, v) -> one nested-array row, code-dense per
    // sub; values are round-6 DECIMALS so the m-term ADC sum is exact
    // in any accumulation order (the q_label_centroids decimal ledger —
    // adc_score is a published pool-boundary value, so a float sum's
    // last-ulp order sensitivity would be a cross-engine hash hazard)
    val lut = qsub.join(broadcast(codebooks), Seq("sub"))
      .select(col("sub"), col("code"),
        round(Similarity.dot(col("svec"), col("centroid")), 6)
          .cast("decimal(18,6)").as("v"))
      .groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("v")))).as("cv"))
      .agg(sort_array(collect_list(struct(col("sub"),
        transform(col("cv"), s => s.getField("v")).as("vs")))).as("svs"))
      .select(transform(col("svs"), s => s.getField("vs")).as("lut"))
    val scored = codes
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(lut))
      .select(col("vec_id").as("neighbor_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(1), lit(m)),
            (c, s) => element_at(element_at(col("lut"), s), c + lit(1))),
          lit(0).cast("decimal(28,6)"),
          (acc, x) => (acc + x).cast("decimal(28,6)"))
          .cast("double").as("adc_score"))
    val pool = scored.orderBy(col("adc_score").desc, col("neighbor_id"))
      .limit(rerank)
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(lit(queryVecId).as("query_id"), col("embedding").as("q_emb"))
    pool.crossJoin(broadcast(q))
      .join(embeddings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc_score"),
        round(Similarity.cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .withColumn("rnk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc_score"), col("cos_sim"))
      .orderBy(col("rnk"))
  }

  /** IVF-PQ (Jégou et al. §V) — the composition a billion-vector corpus
    * actually deploys: coarse cells bound WHICH vectors are scanned
    * (partition pruning, the [[IvfIndex]] role), PQ codes bound the BYTES
    * per scanned candidate, and the codes quantize RESIDUALS (x − its
    * cell centroid), which concentrates the distribution each subspace
    * codebook must cover — the standard recall win over flat PQ.
    *
    * Unlike the spark.ml-quantized [[Similarity.ivfTopK]]/[[IvfIndex]]
    * family (promise gates — solver-specific cells), EVERY stage here is
    * the deterministic house recurrence: cells from
    * [[Similarity.kMeansSphericalModel]] (the q_kmeans unroll), PQ
    * codebooks from [[train]] on the residuals, decimal-exact per-cell
    * ADC LUTs — so the q_ann_ivf_pq gate is a FULL cross-engine
    * recompute, codebooks, cells, codes and pool cut included.
    *
    * Scale shape: build = one k-means (linear per round) + one PQ train
    * (linear) + the coded tier; probe = an O(nlist) bounded driver
    * round-trip to pick nprobe cells (the IvfIndex partition-prune
    * pattern), a candidate scan FILTERED to those cells (cell-partitioned
    * at scale → partition pruning), one broadcast LUT join on (cell, sub,
    * code) (nprobe·m·ksub rows), one per-candidate decimal sum, a
    * TakeOrdered pool, and the exact re-rank over ≤rerank rows. */
  def ivfPqTopK(embeddings: DataFrame, queryVecId: Long, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 4, rerank: Int = 50,
                m: Int = 4, ksub: Int = 8, rounds: Int = 2,
                kmRounds: Int = 3, dim: Int = 64): DataFrame = {
    val (assign, centroids) =
      Similarity.kMeansSphericalModel(embeddings, nlist, kmRounds)
    val resid = residuals(embeddings, assign, centroids).pinTier
    val codebooks = train(resid, m, ksub, rounds, dim).pinTier
    val codes = encode(resid, codebooks, m, dim)
      .join(resid.select(col("vec_id"), col("cluster")), Seq("vec_id"))
    ivfPqProbe(codes, codebooks, centroids, embeddings, queryVecId,
      k, nprobe, rerank, m, dim)
  }

  /** Residual vectors `(vec_id, cluster, embedding = x − centroid[cell])`
    * — what the IVF-PQ codebooks are trained on and what the codes
    * reconstruct toward. Shared by [[ivfPqTopK]] and [[IvfPqIndex]]. */
  private[sim] def residuals(embeddings: DataFrame, assign: DataFrame,
                             centroids: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .join(assign.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      .join(broadcast(centroids
        .select(col("cid").as("cluster"), col("centroid"))), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        zip_with(col("emb"), col("centroid"), (a, b) => a - b).as("embedding"))

  /** The IVF-PQ probe over MATERIALIZED parts — `codes(vec_id, cluster,
    * codes)`, `codebooks(sub, cid, code, centroid)`, `centroids(cid,
    * centroid)` — shared verbatim by the recompute gate and the standing
    * [[IvfPqIndex]], so persistence cannot change a single score (the
    * q_bm25_indexed rule). `embeddings` is the raw tier the exact re-rank
    * reads (candidates only — a point-lookup at scale). */
  private[sim] def ivfPqProbe(codes: DataFrame, codebooks: DataFrame,
                              centroids: DataFrame, embeddings: DataFrame,
                              queryVecId: Long, k: Int, nprobe: Int,
                              rerank: Int, m: Int, dim: Int): DataFrame = {
    require(k <= rerank,
      s"Pq.ivfPqProbe: k=$k must not exceed the rerank pool ($rerank)")
    require(nprobe >= 1,
      s"Pq.ivfPqProbe: need nprobe >= 1, got nprobe=$nprobe")
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>").as("q_emb"))
    // nprobe nearest cells by round-4 cosine, lowest-cid tiebreak — an
    // O(nlist) bounded driver round-trip (the IvfIndex partition-prune
    // pattern: the cell list IS the query plan's pruning predicate)
    val probed: Seq[Long] = centroids.crossJoin(broadcast(q))
      .select(col("cid"),
        round(Similarity.cosine(col("centroid"), col("q_emb")), 4).as("cs"))
      .orderBy(col("cs").desc, col("cid")).limit(nprobe)
      .select(col("cid")).collect().map(_.getLong(0)).toSeq
    // per-cell residual LUT: q − cell centroid, sliced, dotted with every
    // subspace codeword — nprobe·m·ksub decimal rows, broadcast
    val qres = centroids.filter(col("cid").isin(probed: _*))
      .crossJoin(broadcast(q))
      .select(col("cid").as("vec_id"),
        zip_with(col("q_emb"), col("centroid"), (a, b) => a - b).as("embedding"))
    val lut = subvectors(qres, m, dim)
      .select(col("vec_id").as("cell"), col("sub"), col("svec"))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("cell"), col("sub"), col("code"),
        round(Similarity.dot(col("svec"), col("centroid")), 6)
          .cast("decimal(18,6)").as("v"))
    val adc = codes
      .filter(col("cluster").isin(probed: _*) && col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("cluster").as("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("cell", "sub", "code"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(col("v")).cast("double").as("adc_score"))
    val pool = adc.orderBy(col("adc_score").desc, col("vec_id"))
      .limit(rerank)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("adc_score"))
    pool.crossJoin(broadcast(
        q.select(lit(queryVecId).as("query_id"), col("q_emb"))))
      .join(embeddings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        col("adc_score"),
        round(Similarity.cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .withColumn("rnk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cell"),
        col("adc_score"), col("cos_sim"))
      .orderBy(col("rnk"))
  }
}
