package graft.sim

import graft.Tier.PinOps
import graft.lake.Commit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing IVF-PQ index — [[Pq.ivfPqTopK]] turned from a per-query
  * recompute into a MAINTAINED structure (the seventh standing tier; the
  * InvertedIndex rule applied to compressed ANN). This is the layout a
  * billion-vector corpus actually serves from:
  *
  * ```
  * path/v=N/codes/cell=<id>/   ← m-byte PQ codes, parquet-PARTITIONED by
  *                               coarse cell: a probe reads ONLY its nprobe
  *                               cells' directories (`PartitionFilters` on
  *                               the scan — asserted in IvfPqIndexSpec), so
  *                               probe IO ∝ the probed cells' share of the
  *                               corpus, not the corpus
  * path/v=N/centroids/         ← the coarse quantizer
  * path/v=N/codebooks/         ← the m per-subspace residual codebooks
  * path/_current               ← one line: committed version N
  * ```
  *
  * ONE version directory holds all three parts and ONE atomic pointer
  * flip (write-temp + rename, the ComponentsIndex commit rule) publishes
  * them together, so codes, centroids and codebooks can never tear apart:
  * a crashed rebuild leaves an orphaned un-pointed `v=N+1` (invisible;
  * deleted by the next build), and a concurrent probe keeps serving the
  * old version end-to-end — it can never decode new codes against old
  * codebooks. Version resolution goes through the path's Hadoop
  * FileSystem (never `java.io.File` — the index lives on HDFS/S3 at
  * deployment scale, where a local-file listing would silently resolve
  * to version 0).
  *
  * Determinism: build trains the same [[Similarity.kMeansSphericalModel]]
  * cells and [[Pq.train]] residual codebooks the recompute gate trains,
  * and probe calls [[Pq.ivfPqProbe]] on the persisted parts — the
  * BYTE-IDENTICAL Column tree the gate evaluates — so
  * `q_ann_ivf_pq_indexed` shares `q_ann_ivf_pq`'s oracle verbatim
  * (persistence must not change one score; the q_bm25_indexed rule).
  *
  * Admission ([[admit]]) follows standard IVF-PQ practice: quantizers are
  * FROZEN (no retrain — the recall cost of a drifting corpus is the
  * documented tradeoff, monitored by re-running the recall audit), new
  * vectors are assigned to existing cells with the build's exact
  * assignment expression, encoded with the build's codebooks, and
  * APPENDED to their cell partitions inside the CURRENT committed
  * version. Idempotent per vec_id: the duplicate probe anti-joins the
  * index pruned to the BATCH's OWN cells (never a full-index scan — cost
  * ∝ batch-touched partitions).
  *
  * Writer contract: SINGLE WRITER. `admit`'s replay guard anti-joins a
  * snapshot taken before its own append, so two CONCURRENT admits of
  * overlapping batches could both pass the guard and double-insert;
  * `build` republishes the whole index and must not race an in-flight
  * append into the version it is superseding. Serialize all writers (the
  * streaming-maintenance pattern does: one foreachBatch driver); probes
  * need no coordination — they only ever see committed versions.
  */
object IvfPqIndex {

  /** The committed version, or 0 when nothing has committed yet. Version
    * directories become visible only through the atomic pointer flip.
    *
    * Recovery path (ADVICE r12): the pointer swap is a single
    * overwrite-rename, but a legacy delete-then-rename crash (or an
    * operator `rm`) could still leave `_current` absent while fully
    * committed `v=N` directories exist. Rather than resolve to 0 and
    * turn stale-pointer into an outage, fall back to the HIGHEST version
    * whose last-written part (`codebooks/_SUCCESS` — build writes codes,
    * centroids, codebooks in that order) is complete. A stray
    * non-numeric `v=*` directory is SKIPPED, not a crash (ADVICE r13).
    * Caveat, by design: recovery may surface a fully-WRITTEN version
    * whose pointer flip never executed — "complete on disk" is the best
    * signal available once the pointer itself is gone, and serving the
    * newest complete build beats serving nothing. */
  def currentVersion(spark: SparkSession, path: String): Long = {
    val f = Commit.fs(spark, new Path(path))
    Commit.pointer(spark, path).getOrElse(Commit.versions(spark, path,
      v => f.exists(new Path(partDir(path, v, "codebooks"), "_SUCCESS")))
      .lastOption.getOrElse(0L))
  }

  private def partDir(path: String, v: Long, part: String): String =
    new Path(path, s"v=$v/$part").toString

  /** Build (republish) the standing index at `path`: write all three
    * parts under the next version directory, then flip the pointer —
    * one commit, never torn. Also records the build-time corpus size in
    * `_base_count` (atomic commit) — the denominator of
    * [[maintainRebuild]]'s admitted-fraction policy. */
  def build(embeddings: DataFrame, path: String,
            nlist: Int = 16, m: Int = 4, ksub: Int = 8,
            rounds: Int = 2, kmRounds: Int = 3, dim: Int = 64): Unit = {
    val spark = embeddings.sparkSession
    val next = currentVersion(spark, path) + 1
    val f = Commit.fs(spark, new Path(path))
    f.mkdirs(new Path(path))
    // clear the orphan of any crashed prior attempt at this version
    // (invisible to readers, but the writes below must not merge with it)
    f.delete(new Path(path, s"v=$next"), true)
    val (assign, centroids) =
      Similarity.kMeansSphericalModel(embeddings, nlist, kmRounds)
    val resid = Pq.residuals(embeddings, assign, centroids).pinTier
    val codebooks = Pq.train(resid, m, ksub, rounds, dim).pinTier
    Pq.encode(resid, codebooks, m, dim)
      .join(resid.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("cluster").as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(partDir(path, next, "codes"))
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(partDir(path, next, "centroids"))
    codebooks.coalesce(1).write.mode("overwrite")
      .parquet(partDir(path, next, "codebooks"))
    // the swap is ONE overwrite-rename (graft.lake.Commit — atomic on
    // HDFS and posix), never delete-then-rename: a crash can leave only
    // the old pointer or the new one, not a missing pointer
    Commit.flip(spark, path, next)
    // the maintenance denominator: how many vectors the quantizers were
    // TRAINED on. Committed AFTER the pointer: a crash between the two
    // leaves a fresh version with a stale (smaller) base, which inflates
    // the admitted fraction and at worst triggers one spurious rebuild —
    // the self-healing failure direction (a too-large base would instead
    // silently mute the drift policy).
    Commit.atomicWrite(spark, new Path(path, "_base_count"),
      resid.count().toString)
    // retire the superseded version: readers that resolved the pointer
    // just before the flip may still be scanning N−1, so keep one back
    if (next >= 3) f.delete(new Path(path, s"v=${next - 2}"), true)
  }

  /** ANN top-k against the standing index — [[Pq.ivfPqProbe]] over the
    * persisted parts of ONE committed version. `embeddings` is the raw
    * tier the exact re-rank (and the query lookup) reads; the codes scan
    * is partition-pruned to the nprobe probed cells. */
  def probe(spark: SparkSession, path: String, embeddings: DataFrame,
            queryVecId: Long, k: Int = 10, nprobe: Int = 4,
            rerank: Int = 50, m: Int = 4, dim: Int = 64): DataFrame = {
    val v = currentVersion(spark, path)
    val centroids = spark.read.parquet(partDir(path, v, "centroids"))
    val codebooks = spark.read.parquet(partDir(path, v, "codebooks"))
    // the partition column surfaces under the probe's name; the cell
    // filter inside ivfPqProbe then prunes whole cell=<id> directories
    val codes = spark.read.parquet(partDir(path, v, "codes"))
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cluster"))
    Pq.ivfPqProbe(codes, codebooks, centroids, embeddings, queryVecId,
      k, nprobe, rerank, m, dim)
  }

  /** Admit a batch with FROZEN quantizers: assign → encode → append to
    * the touched cell partitions of the current committed version.
    * Replay-safe: already-indexed vec_ids are dropped by an anti-join
    * against the index PRUNED to the batch's own cells. Single writer
    * (see the class doc). Returns the number of vectors admitted. */
  def admit(spark: SparkSession, batch: DataFrame, path: String,
            m: Int = 4, dim: Int = 64): Long = {
    val v = currentVersion(spark, path)
    val centroids = spark.read.parquet(partDir(path, v, "centroids"))
    val codebooks = spark.read.parquet(partDir(path, v, "codebooks"))
    val emb = batch
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val assign = Similarity.assignSpherical(emb, centroids)
    val resid = Pq.residuals(batch, assign, centroids).pinTier
    val cells = resid.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq // ≤ nlist — the bounded class
    val existing = spark.read.parquet(partDir(path, v, "codes"))
      .filter(col("cell").isin(cells: _*)) // partition-pruned probe side
      .select(col("vec_id"))
    val fresh = resid.join(existing, Seq("vec_id"), "left_anti").pinTier
    val n = fresh.count()
    if (n > 0) {
      Pq.encode(fresh, codebooks, m, dim)
        .join(fresh.select(col("vec_id"), col("cluster")), Seq("vec_id"))
        .select(col("vec_id"), col("codes"), col("cluster").as("cell"))
        .write.mode("append").partitionBy("cell")
        .parquet(partDir(path, v, "codes"))
    }
    n
  }

  /** STREAMING admission (VERDICT r12 #8 — the last standing tier without
    * a foreachBatch twin): [[admit]] under foreachBatch's at-least-once
    * delivery. Index STATE is already exactly-once through admit's
    * anti-join (admission is idempotent per vec_id — set semantics, unlike
    * the CMS counters), so the batch ledger here is an ECONOMY device,
    * not the correctness carrier: a redelivered batchId is skipped
    * without paying the pruned-index duplicate probe at all. Crash
    * windows: after the append but before the ledger write, the replay
    * re-runs admit and the anti-join drops every duplicate (state stays
    * exactly-once, ledger heals); the ledger write itself is the one
    * atomic [[graft.lake.Commit]] rename. batchIds must be monotonic per
    * index (foreachBatch's contract). Returns vectors admitted (0 on a
    * ledger-skipped replay). */
  def admitBatch(spark: SparkSession, batch: DataFrame, path: String,
                 batchId: Long, m: Int = 4, dim: Int = 64): Long = {
    val ledger = new Path(path, "_admit_ledger")
    val last = Commit.read(spark, ledger).map(_.toLong).getOrElse(-1L)
    if (batchId <= last) 0L
    else {
      val n = admit(spark, batch, path, m, dim)
      Commit.atomicWrite(spark, ledger, batchId.toString)
      n
    }
  }

  /** The REBUILD half of the maintenance loop (the compaction analogue
    * for quantized ANN): frozen-quantizer admission is the documented
    * recall tradeoff — every admitted vector is encoded against
    * quantizers that never saw it, so a corpus that grows mostly by
    * admission drifts away from its codebooks. This policy closes the
    * loop: when the admitted fraction (indexed − trained-base, over
    * trained-base) exceeds `maxAdmittedFraction`, republish the whole
    * index from `corpus` — one [[build]], atomic version flip, fresh
    * quantizers, base reset. Below the threshold it is a metadata-only
    * check (two count files + one pruned count of the codes tier — no
    * data rewrite). Returns true when a rebuild was published.
    *
    * Post-rebuild probes are BYTE-equal to a from-scratch build's (same
    * deterministic training on the same corpus), which is why the
    * q_ann_ivf_pq_rebuilt gate shares the whole-corpus oracle verbatim:
    * the policy may never change a score, only refresh recall. */
  def maintainRebuild(spark: SparkSession, corpus: DataFrame, path: String,
                      maxAdmittedFraction: Double = 0.5,
                      nlist: Int = 16, m: Int = 4, ksub: Int = 8,
                      rounds: Int = 2, kmRounds: Int = 3,
                      dim: Int = 64): Boolean = {
    val v = currentVersion(spark, path)
    val base = Commit.read(spark, new Path(path, "_base_count"))
      .map(_.toLong).getOrElse(0L)
    val indexed = spark.read.parquet(partDir(path, v, "codes"))
      .select(col("vec_id")).count()
    val drifted = base <= 0 ||
      (indexed - base).toDouble / base > maxAdmittedFraction
    if (drifted) build(corpus, path, nlist, m, ksub, rounds, kmRounds, dim)
    drifted
  }
}
