package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's tier-pin primitive: eagerly materialize an intermediate
  * frame that multiple downstream plans consume (shingle tiers, sketch
  * tables, fixpoint state), so Spark never re-runs the producing pipeline
  * per consumer — at 100 TB the difference between 1× and 3× scan cost.
  *
  * Storage level: always DESERIALIZED `MEMORY_AND_DISK` (the
  * `localCheckpoint` default): the r9 A/B over the 126-query sf0.1 bench
  * measured `MEMORY_AND_DISK_SER` ~7% slower (247.1 s vs 230.6 s) with
  * identical suite GC (60.7 s vs 60.3 s).
  *
  * Eagerness is semantic, not an optimization hint: [[Scratch.pinned]]
  * deletes its staging directory (and streaming callers advance state)
  * immediately after the pin, relying on the blocks being materialized
  * before the source disappears — keep `pin` eager.
  */
object Tier {

  def pin(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)

  /** Scale-adaptive parallelism floor for compute-heavy map stages (r16,
    * guide §2.5 "input skew: one huge file"): a small parquet fixture
    * reads as ONE split, and every downstream map-side pass — k-means
    * assignment cosines, PQ encode argmins, brute-force top-k cosines
    * behind a BroadcastNestedLoopJoin — inherits that single partition
    * and runs on one core however many the session has (AQE coalesces by
    * BYTES and never widens; the Triangles wedge repartition documents
    * the same blind spot). `widen` repartitions ONLY when the frame is
    * narrower than the session's core count, so at real corpus scale
    * (thousands of scan splits) it is the identity and adds no exchange;
    * locally it costs one tiny shuffle and buys every downstream pass
    * the full core count. Row-local arithmetic is partitioning-
    * independent, and every aggregate downstream of the widened frames
    * follows the decimal/round determinism discipline, so results are
    * unchanged.
    *
    * Scope (r17, the VERDICT-r16 A/B): widen is worth its exchange ONLY
    * where the downstream stage is a broadcast-probe nested-loop scan —
    * |Q|·n cosines serialized onto one task (bruteForceTopK,
    * knnLabelAudit). On iterative train passes (k-means rounds, PQ
    * codebook rounds) the interleaved driver-config A/B measured it
    * 1.2–1.9× SLOWER at fixture scale (per-round 32-task scheduling +
    * the widened pin's repartition dwarf the single-task arithmetic),
    * so those call sites were reverted.
    *
    * Caller contract (ADVICE r16): wrap only raw scans or pinned frames.
    * The partition probe is `df.rdd`, which under AQE finalizes the plan
    * and eagerly materializes any shuffle/broadcast stages in the
    * lineage — the repartitioned result would then re-execute them
    * (exchange reuse does not span executions). Every current call site
    * is a scan projection, so the probe is free. */
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Extension form so call sites read like the `localCheckpoint(true)`
    * idiom they replace: `frame.pinTier`. */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinTier: DataFrame = pin(df)
    def widened: DataFrame = widen(df)
  }
}
