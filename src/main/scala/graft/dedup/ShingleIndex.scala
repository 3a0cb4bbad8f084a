package graft.dedup

import graft.Tier.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing shingle index — [[Dedup.incrementalDedup]] turned from a
  * per-batch recompute into a MAINTAINED structure (the production form its
  * scaladoc promised): the corpus tier `(doc_id, n, shingle)` is persisted
  * once, each new crawl batch is classified by joining its own (small)
  * shingle tier against the index, and the shingles of ADMITTED documents
  * are appended — so no admission ever re-tokenizes the corpus.
  *
  * Scale shape: admission cost is `batch tokenization + one equi-join of
  * batch-shingles against the index` — proportional to the BATCH, not the
  * corpus; the corpus is touched only as a pruned columnar scan of the
  * index (shingle, doc_id, n — no text). The append is idempotent per
  * doc_id ([[appendAdmitted]] anti-joins the index's doc set, the
  * [[graft.ingest.Ingest.dedupAppend]] exactly-once contract), so a
  * replayed batch cannot double-index a document. At 100 TB the index is
  * written `bucketBy(shingle)` into a catalog table
  * ([[buildBucketed]]/[[admitBucketed]]) so the admission join plans no
  * index-side exchange; plain parquet keeps the driver gate
  * self-contained.
  *
  * Semantics vs the recompute form: identical by construction — both
  * classify a batch against (standing corpus ∪ earlier-batch docs) with
  * the same scoring; ShingleIndexSpec pins batch-2 verdicts equal to a
  * full re-tokenization and plan-asserts the index path is the ONLY file
  * scan in the admission query.
  */
object ShingleIndex {

  /** The persisted tier schema: one row per (doc_id, distinct shingle)
    * with the doc's total shingle count `n` riding along (the same
    * window-count trick as the in-memory tiers — `n` is needed by every
    * Jaccard denominator and costs nothing extra here). */
  def tier(documents: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    Dedup.shingleRows(documents, k).withColumn("n", count(lit(1)).over(w))
  }

  /** Build (overwrite) the standing index from a corpus snapshot. */
  def build(documents: DataFrame, path: String, k: Int = 3): Unit =
    tier(documents, k).write.mode("overwrite").parquet(path)

  /** Classify a batch tier against a corpus tier — the shared core of the
    * index-read and recompute forms. Verdict per batch doc: `dup_corpus`
    * (best match in the corpus tier), `dup_batch` (best match is an
    * EARLIER batch doc — first-in wins), or `new`; the winning match and
    * its Jaccard make rejects auditable (ties to the lower match id). */
  def classify(batchTier: DataFrame, corpusTier: DataFrame,
               threshold: Double = 0.5): DataFrame = {
    val bt = batchTier.pinTier
    val batch = bt.select(col("doc_id"), col("n"), col("shingle"))
    val other = corpusTier
      .select(col("doc_id").as("match_id"), col("n").as("n_m"), col("shingle"))
      .withColumn("m_batch", lit(false))
      .unionByName(bt
        .select(col("doc_id").as("match_id"), col("n").as("n_m"), col("shingle"))
        .withColumn("m_batch", lit(true)))
    val candidates = batch.join(other, Seq("shingle"))
      .filter(!col("m_batch") || col("match_id") < col("doc_id"))
    scoreCandidates(bt, candidates, threshold)
  }

  /** Shared scoring tail of [[classify]]/[[admitBucketed]]: shingle-matched
    * candidate rows `(doc_id, n, match_id, n_m, m_batch)` → per-doc verdict.
    *
    * m_batch is a GROUPING key, not an aggregate: a replayed doc_id can
    * appear in BOTH tiers, and folding the two (doc_id, match_id) rows
    * together would double-count n_shared (jaccard > 1) and leave
    * first(m_batch) nondeterministic. Grouped separately, the replayed
    * doc's corpus copy scores a jaccard-1.0 self-match → dup_corpus,
    * which is the recompute verdict for an already-admitted document. */
  private def scoreCandidates(bt: DataFrame, candidates: DataFrame,
                              threshold: Double): DataFrame = {
    val scored = candidates
      .groupBy(col("doc_id"), col("match_id"), col("m_batch"))
      .agg(count(lit(1)).as("n_shared"), min(col("n")).as("n_a"),
        min(col("n_m")).as("n_b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("match_id"), col("m_batch"))
    val best = scored
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        when(col("m_batch"), lit("dup_batch")).otherwise(lit("dup_corpus"))
          .as("verdict"),
        col("match_id"), col("jaccard"))
    bt.select(col("doc_id")).distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("verdict"), lit("new")).as("verdict"),
        col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Classify a new batch against the standing index at `path` — the
    * corpus side is READ, never re-tokenized. Batch docs with zero
    * shingles (empty text) still get a `new` verdict via the trailing
    * outer join in [[classify]]... except they have no tier rows, so they
    * are re-attached here from the batch frame itself. */
  def admit(spark: SparkSession, batch: DataFrame, path: String,
            k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val verdicts = classify(tier(batch, k), spark.read.parquet(path), threshold)
    batch.select(col("doc_id")).distinct()
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("verdict"), lit("new")).as("verdict"),
        col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** The index as a BUCKETED catalog table — the 100 TB layout the plain-
    * parquet scaladoc promises: the tier is written `bucketBy(shingle)`
    * (sorted within buckets), so an admission join consumes the index
    * pre-partitioned on its join key and plans NO index-side exchange; at
    * batch sizes past broadcast range, only the batch side shuffles into
    * the bucket scheme. `path` makes it an external table so the data
    * lives where the caller stages it, not the session warehouse. */
  def buildBucketed(documents: DataFrame, table: String, path: String,
                    k: Int = 3, buckets: Int = 32): Unit =
    // one sorted run per bucket at any shuffle-partition setting — the
    // shared rule, graft.serve.Bucketing.bucketAligned
    graft.serve.Bucketing.bucketAligned(tier(documents, k), buckets, "shingle")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "shingle").sortBy("shingle")
      .option("path", path).saveAsTable(table)

  /** [[admit]] against the bucketed table. Verdicts are identical to the
    * plain form by construction — the corpus and batch candidate legs are
    * joined separately and unioned AFTER (join-then-union instead of
    * classify's union-then-join: a union upstream of the join would erase
    * the scan's bucketing-derived output partitioning and force the
    * exchange back). ShingleIndexSpec pins verdict equality and asserts
    * the exchange-free index side on the executed plan. */
  def admitBucketed(spark: SparkSession, batch: DataFrame, table: String,
                    k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val bt = tier(batch, k).pinTier
    val b = bt.select(col("doc_id"), col("n"), col("shingle"))
    val corpusLeg = b
      .join(spark.table(table)
        .select(col("doc_id").as("match_id"), col("n").as("n_m"), col("shingle")),
        Seq("shingle"))
      .withColumn("m_batch", lit(false))
    val batchLeg = b
      .join(bt
        .select(col("doc_id").as("match_id"), col("n").as("n_m"), col("shingle")),
        Seq("shingle"))
      .filter(col("match_id") < col("doc_id"))
      .withColumn("m_batch", lit(true))
    val verdicts =
      scoreCandidates(bt, corpusLeg.unionByName(batchLeg), threshold)
    batch.select(col("doc_id")).distinct()
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("verdict"), lit("new")).as("verdict"),
        col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Append the shingles of ADMITTED (`verdict = new`) batch docs to the
    * index, idempotent per doc_id: a doc already present (a replayed
    * batch) is never appended twice. Returns the number of docs added. */
  def appendAdmitted(spark: SparkSession, batch: DataFrame,
                     verdicts: DataFrame, path: String, k: Int = 3): Long = {
    val admitted = verdicts.filter(col("verdict") === "new").select(col("doc_id"))
    val existing = spark.read.parquet(path).select(col("doc_id")).distinct()
    val freshDocs = admitted.join(existing, Seq("doc_id"), "left_anti")
      .pinTier
    val n = freshDocs.count()
    if (n > 0)
      tier(batch.join(freshDocs, Seq("doc_id"), "leftsemi"), k)
        .write.mode("append").parquet(path)
    n
  }

  /** [[appendAdmitted]] for the bucketed catalog table — completes the
    * 100 TB form's maintenance loop (classify → append admitted →
    * classify the next batch against the grown index). Same idempotence
    * contract; each append adds a fresh set of per-bucket files, which
    * [[compactBucketed]] periodically folds back to one sorted run per
    * bucket. Returns the number of docs added. */
  def appendAdmittedBucketed(spark: SparkSession, batch: DataFrame,
                             verdicts: DataFrame, table: String,
                             k: Int = 3, buckets: Int = 32): Long = {
    val admitted = verdicts.filter(col("verdict") === "new").select(col("doc_id"))
    val existing = spark.table(table).select(col("doc_id")).distinct()
    val freshDocs = admitted.join(existing, Seq("doc_id"), "left_anti")
      .pinTier
    val n = freshDocs.count()
    if (n > 0)
      graft.serve.Bucketing.bucketAligned( // one file/bucket per append
          tier(batch.join(freshDocs, Seq("doc_id"), "leftsemi"), k),
          buckets, "shingle")
        .write.mode("append").format("parquet")
        .bucketBy(buckets, "shingle").sortBy("shingle").saveAsTable(table)
    n
  }

  /** Fold the admission-accreted bucket files back to one sorted run per
    * bucket behind a catalog flip + vacuum (the
    * [[graft.lake.BucketedTable.compact]] machinery — shuffle-free, the
    * bucketed scan is the merge unit). Compaction must not change one
    * verdict: the q_incremental_dedup_compacted gate shares the indexed
    * twin's oracle verbatim. Returns (files before, files after). */
  def compactBucketed(spark: SparkSession, table: String, path: String,
                      buckets: Int = 32): (Long, Long) =
    graft.lake.BucketedTable.compact(spark, table, path, "shingles",
      "shingle", buckets)

  // ---------------------------------------- rendezvous-sharded layout
  //
  // VERDICT r12 #6: rendezvous sharding graduated from a report gate to
  // the OPERATIONAL property it exists for, on this tier. The layout
  // splits placement into two levels, the consistent-hashing-over-
  // partitions design every elastic store uses:
  //
  //   shingle --PolyHash--> bucket (0..B-1, FIXED)   [row -> file]
  //   bucket  --rendezvous--> shard (0..N-1, GROWS)  [file -> node dir]
  //
  // Rows never migrate between buckets, so growing the shard count
  // N -> N+1 relocates WHOLE bucket directories — and only those whose
  // rendezvous argmax changed: expected B/(N+1) of the B files, each
  // moved by a metadata rename, zero bytes rewritten. A mod-N layout
  // would re-home ~N/(N+1) of the files AND re-bucket rows inside them —
  // a near-total rewrite of a 100 TB tier on every capacity change.
  // Verdicts are placement-blind by construction (classify never reads
  // shard/bucket), pinned by the q_rendezvous_tier gate + spec.

  import org.apache.hadoop.fs.Path

  /** Physical buckets per tier — fixed at build; shard growth never
    * changes it (that's the point). */
  val DefaultBuckets = 32

  private def bucketOf(buckets: Int) =
    pmod(graft.functions.PolyHash.poly_hash(
      concat(lit("bkt:"), col("shingle"))), lit(buckets.toLong))

  /** bucket → shard under `nShards`, via the exact gate expression
    * ([[graft.ops.Sampling.rendezvousShard]]) evaluated over the B
    * bounded bucket ids — control-plane sized, like the IVF cell list. */
  def bucketAssignments(spark: SparkSession, buckets: Int,
                        nShards: Int): Map[Int, Int] =
    spark.range(buckets)
      .select(col("id").cast("int").as("bucket"),
        graft.ops.Sampling.rendezvousShard(col("id"), nShards).as("shard"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

  /** Build (overwrite) the sharded tier: `base/shard=<s>/bucket=<b>/…`
    * plus a `_shards` pointer holding the current shard count and a
    * `_buckets` manifest of the PRESENT bucket ids. Bucket presence is
    * reshard-INVARIANT (reshard renames whole bucket dirs, never
    * creates or empties one), which is exactly what makes the manifest
    * usable as a probe-time completeness check ([[probeSharded]],
    * VERDICT r13 #4): any append path added later must refresh it. */
  def buildSharded(documents: DataFrame, base: String, nShards: Int,
                   k: Int = 3, buckets: Int = DefaultBuckets): Unit = {
    val spark = documents.sparkSession
    tier(documents, k)
      .withColumn("bucket", bucketOf(buckets))
      .withColumn("shard",
        graft.ops.Sampling.rendezvousShard(col("bucket"), nShards))
      .write.mode("overwrite").partitionBy("shard", "bucket").parquet(base)
    val f = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = f.globStatus(new Path(base, "shard=*/bucket=*"))
      .map(_.getPath.getName.stripPrefix("bucket=").toInt).sorted
    graft.lake.Commit.atomicWrite(spark, new Path(base, "_buckets"),
      present.mkString(","))
    graft.lake.Commit.atomicWrite(spark, new Path(base, "_shards"),
      nShards.toString)
  }

  /** The committed present-bucket set of a sharded tier. */
  def committedBuckets(spark: SparkSession, base: String): Set[Int] = {
    val p = new Path(base, "_buckets")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val body = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    if (body.isEmpty) Set.empty else body.split(",").map(_.toInt).toSet
  }

  /** The bucket ids a captured file listing covers — pure over the leaf
    * paths so the spec can pin the detection logic on synthetic races. */
  def bucketCoverage(files: Seq[String]): Set[Int] =
    files.flatMap { f =>
      "/bucket=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toInt)
    }.toSet

  /** The committed shard count of a sharded tier. */
  def currentShards(spark: SparkSession, base: String): Int = {
    val p = new Path(base, "_shards")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
  }

  /** Grow (or shrink) the shard count: re-derive both assignments over
    * the B bucket ids, RENAME only the bucket directories whose argmax
    * changed, flip the `_shards` pointer. Returns (buckets moved,
    * buckets present) — the movement economics the gate pins: expected
    * moved/present ≈ 1/(toShards) on a grow-by-one, vs ~(N-1)/N for a
    * mod-N re-home. No data file is opened, let alone rewritten.
    *
    * Crash recovery (ADVICE r13): there is no per-bucket journal — a
    * crash mid-loop leaves mixed placement (some buckets at the new
    * argmax, the rest at the old) with `_shards` still reading the OLD
    * count. Recovery is RERUNNING the same reshard: the `f.exists(src)`
    * skip treats already-moved buckets as done and the rerun completes
    * the remainder, then flips the pointer. On such a healing rerun the
    * returned counts cover only the buckets the RERUN found in place —
    * (moved, present) are meaningful for a crash-free pass, an audit
    * trail, not an invariant. */
  def reshard(spark: SparkSession, base: String, toShards: Int,
              buckets: Int = DefaultBuckets): (Long, Long) = {
    val fromShards = currentShards(spark, base)
    val from = bucketAssignments(spark, buckets, fromShards)
    val to = bucketAssignments(spark, buckets, toShards)
    val f = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var moved = 0L
    var present = 0L
    (0 until buckets).foreach { b =>
      val src = new Path(base, s"shard=${from(b)}/bucket=$b")
      if (f.exists(src)) { // a bucket no shingle hashed into has no dir
        present += 1
        if (from(b) != to(b)) {
          val dstShard = new Path(base, s"shard=${to(b)}")
          f.mkdirs(dstShard)
          require(f.rename(src, new Path(dstShard, s"bucket=$b")),
            s"reshard: move failed for bucket=$b ${from(b)} -> ${to(b)}")
          moved += 1
        }
      }
    }
    graft.lake.Commit.atomicWrite(spark, new Path(base, "_shards"),
      toShards.toString)
    (moved, present)
  }

  /** The sharded tier as a frame: partition discovery restores `shard`
    * and `bucket` from the directory names, so the reported placement IS
    * the physical one. Raw form — no reshard-concurrency protection; the
    * probe paths go through [[probeSharded]]. */
  def readSharded(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(base)

  /** Probe-safe read under a concurrent [[reshard]] (VERDICT r13 #4).
    *
    * Reshard renames bucket directories in the LIVE layout, and a
    * keep-one-back rule can't apply — rename moves the only copy, so
    * old and new placements cannot coexist without rewriting bytes
    * (which would forfeit the zero-rewrite economics the layout exists
    * for). What CAN be guaranteed, and is, is fail-loud-never-silent:
    *
    *  - **silent miss is detected at resolve time**: partition discovery
    *    that raced a rename (listed a shard dir the instant its bucket
    *    left, before it appeared under the new shard) yields a snapshot
    *    MISSING a whole bucket. The captured listing (`df.inputFiles` —
    *    the exact files the scan will read, no second racy listing) is
    *    checked against the reshard-invariant `_buckets` manifest; an
    *    uncovered bucket retries the resolve, so no verdict is ever
    *    computed over a silently-partial corpus;
    *  - **mid-scan rename fails loudly**: a rename AFTER a complete
    *    resolve makes the execution throw FileNotFoundException
    *    (`spark.sql.files.ignoreMissingFiles` stays false) — the
    *    spec-pinned failure direction; recovery is re-running the probe,
    *    which resolves the post-reshard layout.
    * Single-RESHARDER contract (same as the admits); probes are the
    * concurrent party this covers. */
  def probeSharded(spark: SparkSession, base: String,
                   maxAttempts: Int = 3): DataFrame = {
    val committed = committedBuckets(spark, base)
    var attempt = 0
    while (true) {
      attempt += 1
      val df = readSharded(spark, base)
      val seen = bucketCoverage(df.inputFiles.toSeq)
      if (committed.subsetOf(seen)) return df
      if (attempt >= maxAttempts)
        throw new IllegalStateException(
          s"probeSharded: listing missed buckets ${(committed -- seen).toSeq.sorted
            .mkString(",")} after $maxAttempts attempts (reshard in flight?)")
      Thread.sleep(50L * attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[admit]] against the sharded layout — classify never reads the
    * placement columns, so verdicts are reshard-invariant (spec-pinned).
    * The corpus side resolves through [[probeSharded]]: complete-coverage
    * verified against the `_buckets` manifest, loud on a raced rename. */
  def admitSharded(spark: SparkSession, batch: DataFrame, base: String,
                   k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val verdicts = classify(tier(batch, k),
      probeSharded(spark, base).select(col("doc_id"), col("n"), col("shingle")),
      threshold)
    batch.select(col("doc_id")).distinct()
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("verdict"), lit("new")).as("verdict"),
        col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Gate-facing reshard audit on the REAL tier: build sharded at
    * `fromShards`, grow to `toShards` (physically renaming bucket dirs),
    * then report per post-reshard shard from the MOVED files — bucket
    * and row counts read back through partition discovery, plus how many
    * of the shard's buckets ARRIVED in the reshard (prior argmax ≠
    * current physical shard). The oracle recomputes the tier population,
    * both argmaxes and every count from the parquet tables; a wrong or
    * missed rename shows up as a placement mismatch. */
  def rendezvousReshardReport(spark: SparkSession, documents: DataFrame,
                              fromShards: Int = 8, toShards: Int = 9,
                              k: Int = 3,
                              buckets: Int = DefaultBuckets): DataFrame =
    graft.Scratch.pinned("graft-sharded-tier") { stage =>
      buildSharded(documents, s"$stage/tier", fromShards, k, buckets)
      reshard(spark, s"$stage/tier", toShards, buckets)
      readSharded(spark, s"$stage/tier")
        .groupBy(col("shard").cast("int").as("shard"),
          col("bucket").cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("arrived",
          (graft.ops.Sampling.rendezvousShard(col("bucket"), fromShards)
            =!= col("shard")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n_rows")).as("n_rows"),
          sum(col("arrived")).as("n_buckets_arrived"))
        .orderBy(col("shard"))
    }
}
