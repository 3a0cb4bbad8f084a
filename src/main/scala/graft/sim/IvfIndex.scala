package graft.sim

import graft.Tier.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Standing IVF index — [[Similarity.ivfTopK]] turned from a per-query
  * retrain into a MAINTAINED structure (the ANN twin of
  * [[graft.dedup.ShingleIndex]], and the same production argument: at
  * 100 TB you train the coarse quantizer once, not per query).
  *
  * Layout under `path`:
  *   - `model/`      the persisted spark.ml KMeans quantizer (so admission
  *                   assigns with EXACTLY the training-time logic — no
  *                   reimplemented distance that could drift);
  *   - `centroids/`  (cell, centroid) — a broadcastable nlist-row table;
  *   - `postings/`   (vec_id, embedding) partitioned BY CELL: a probe of
  *                   nprobe cells reads only those directories — partition
  *                   pruning IS the IVF inverted-list seek, expressed in
  *                   lake layout instead of a custom file format.
  *   - `codebook/`   the one-row SQ8 affine codebook (mns, mxs, levels),
  *                   frozen at build time like the quantizer;
  *   - `codes/`      (vec_id, codes, code_norm) partitioned BY CELL — the
  *                   compressed tier [[topKSq]] probes: 1-byte/dim codes
  *                   instead of float vectors, ~4x less posting I/O, with
  *                   the exact tier read only for the candidate-bounded
  *                   refine. Admitted vectors outside the trained range
  *                   take codes outside [0, levels]; the ADC lookup-table
  *                   identity is affine, so they extrapolate instead of
  *                   clipping.
  *
  * Scale shape: [[admit]] is broadcast-model assignment (map-side) plus an
  * anti-join against the postings' pruned vec_id column — cost ∝ batch,
  * idempotent per vec_id ([[graft.dedup.ShingleIndex.appendAdmitted]]'s
  * contract). [[topK]] scores |Q|·nprobe cells; the cell list is bounded
  * (≤ nprobe·|Q| of nlist), so the static isin partition filter is
  * driver-bounded the same way the IVF centroid collect is.
  * IvfIndexSpec pins topK-via-index ≡ [[Similarity.ivfTopK]] on the same
  * corpus/params (same seed → same quantizer → same probes, candidates,
  * scores and tie-breaks) and plan-asserts the postings partition
  * pruning; k-means cells are engine-specific, so driver gates stay
  * rows-only like q_ann_ivf itself.
  */
object IvfIndex {

  /** Train the coarse quantizer on a corpus snapshot and write the full
    * index (model + centroids + cell-partitioned postings + the SQ8
    * codebook and compressed codes tier). */
  def build(spark: SparkSession, embeddings: DataFrame, path: String,
            nlist: Int = 16, seed: Long = 42L, levels: Int = 255): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = embeddings.withColumn("v", array_to_vector(col("embedding")))
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val model = km.fit(vecs)
    model.write.overwrite().save(s"$path/model")
    spark.createDataFrame(
        model.clusterCenters.zipWithIndex
          .map { case (c, i) => (i, c.toArray) }.toSeq)
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = model.transform(vecs)
      .select(col("cell"), col("vec_id"), col("embedding"))
      .cache()
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$path/postings")
    val codebook = Similarity.sqStats(embeddings).withColumn("levels", lit(levels))
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    writeCodes(assigned, codebook, s"$path/codes", overwrite = true)
    assigned.unpersist()
    ()
  }

  /** Code + norm a cell-assigned batch against a codebook and write it to
    * the compressed tier — the ONE place the code/norm expressions are
    * built, so build-time and admitted codes are bit-identical with
    * [[Similarity.ivfSqTopK]]'s retrain form. */
  private def writeCodes(assigned: DataFrame, codebook: DataFrame,
                         path: String, overwrite: Boolean): Unit = {
    val levels = codebook.select(col("levels")).head().getInt(0)
    assigned.crossJoin(broadcast(codebook.drop("levels")))
      .select(col("cell"), col("vec_id"),
        Similarity.sqCodesExpr(col("embedding"), levels).as("codes"),
        col("mns"), col("mxs"))
      .withColumn("deq", Similarity.sqDequantExpr(col("codes"), levels))
      .withColumn("code_norm", sqrt(Similarity.dot(col("deq"), col("deq"))))
      .drop("deq", "mns", "mxs")
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("cell").parquet(path)
  }

  /** Assign a new batch against the PERSISTED quantizer and append each
    * vector to its cell's partition — no retrain, map-side assignment,
    * idempotent per vec_id (a replayed batch appends nothing). Returns
    * the number of vectors added.
    *
    * Crash-consistency: the two tiers are appended by two writes, so a
    * failure between them can leave a vec_id in one tier only. "Admitted"
    * is therefore defined as PRESENT IN BOTH tiers (intersection), and
    * each tier's append anti-joins against its OWN id set — a replayed
    * batch repairs whichever tier the partial failure missed without
    * duplicating rows in the tier that already has it. */
  def admit(spark: SparkSession, batch: DataFrame, path: String): Long = {
    import org.apache.spark.ml.clustering.KMeansModel
    import org.apache.spark.ml.functions.array_to_vector
    val postIds = spark.read.parquet(s"$path/postings")
      .select(col("vec_id")).distinct().pinTier
    val codeIds = spark.read.parquet(s"$path/codes")
      .select(col("vec_id")).distinct().pinTier
    val admitted = postIds.join(codeIds, Seq("vec_id"), "inner")
    val fresh = batch.join(admitted, Seq("vec_id"), "left_anti")
      .pinTier
    val n = fresh.count()
    if (n > 0) {
      val assigned = KMeansModel.load(s"$path/model")
        .transform(fresh.withColumn("v", array_to_vector(col("embedding"))))
        .select(col("cell"), col("vec_id"), col("embedding"))
        .cache()
      assigned.join(postIds, Seq("vec_id"), "left_anti")
        .write.mode("append").partitionBy("cell").parquet(s"$path/postings")
      // both tiers admit together: codes use the FROZEN build-time codebook
      writeCodes(assigned.join(codeIds, Seq("vec_id"), "left_anti"),
        spark.read.parquet(s"$path/codebook"),
        s"$path/codes", overwrite = false)
      assigned.unpersist()
    }
    n
  }

  /** IVF top-k against the standing index: nprobe nearest cells per query
    * from the (broadcast) centroid table, then exact cosine over ONLY
    * those cells' posting partitions. `queries` is (query_id, q_emb). */
  def topK(spark: SparkSession, queries: DataFrame, path: String,
           k: Int, nprobe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_to_cent").desc, col("cell"))
    val probes = queries.join(broadcast(cents))
      .withColumn("cos_to_cent",
        Similarity.cosine(col("q_emb").cast("array<double>"), col("centroid")))
      .withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
      .pinTier // ≤ nprobe·|Q| rows; read twice below
    // bounded driver round-trip (≤ nlist values): the static IN filter is
    // what turns the postings read into a partition-pruned directory seek
    val cells = probes.select(col("cell")).distinct().collect().map(_.get(0))
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    probes
      .join(postings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Compressed-tier top-k — the standing form of [[Similarity.ivfSqTopK]]
    * (pinned exactly equal in IvfIndexSpec): probe the codes tier with the
    * per-query ADC lookup table, refine the top rerankFactor·k against the
    * exact tier. BOTH reads are partition-pruned to the probed cells, and
    * the heavy one (codes) ships 1-byte/dim rows; the exact tier
    * contributes only the candidate-bounded refine join. */
  def topKSq(spark: SparkSession, queries: DataFrame, path: String,
             k: Int, nprobe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_to_cent").desc, col("cell"))
    val probes = queries.join(broadcast(cents))
      .withColumn("cos_to_cent",
        Similarity.cosine(col("q_emb").cast("array<double>"), col("centroid")))
      .withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
      .pinTier
    val cells = probes.select(col("cell")).distinct().collect().map(_.get(0))
    val codebook = spark.read.parquet(s"$path/codebook")
    val levels = codebook.select(col("levels")).head().getInt(0)
    val (qConst, wCol) = Similarity.adcQueryConsts(levels)
    val wq = probes.crossJoin(broadcast(codebook.drop("levels")))
      .select(col("query_id"), col("q_emb"), col("cell"),
        qConst.as("q_const"), wCol.as("w"),
        Similarity.norm(col("q_emb")).as("q_norm"))
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val candidates = wq
      .join(codes.select(col("vec_id").as("neighbor_id"), col("codes"),
        col("code_norm"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_cos",
        (col("q_const") + Similarity.dot(col("w"), col("codes"))) /
          (col("q_norm") * col("code_norm")))
      .withColumn("cr", row_number().over(wCand))
      .filter(col("cr") <= k * rerankFactor)
      .select(col("query_id"), col("q_emb"), col("neighbor_id"))
    val exact = spark.read.parquet(s"$path/postings")
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    candidates.join(exact, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }
}
