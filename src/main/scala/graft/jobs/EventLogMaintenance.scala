package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{Commit, Layout}

/** The event-log maintenance cycle (VERDICT r8 "next" #8) — the operational
  * job a 100 TB event pipeline schedules nightly, tying the lake layer
  * together: ingest-dedup, retention expiry, small-file compaction, and
  * z-order clustering as ONE crash-replay-safe transaction.
  *
  * The reference never needed this (single-node store, no file layout);
  * Spark-natively the event log is a versioned parquet table:
  *
  * ```
  * root/v=3/…parquet       ← immutable table versions
  * root/v=4/…parquet
  * root/_current           ← one line: the committed version number
  * ```
  *
  * A cycle reads the committed version, builds version N+1 in a staging
  * directory, renames it into place, and only then flips `_current` via
  * write-temp + atomic rename. A crash at ANY point leaves `_current`
  * pointing at the old consistent version; re-running the cycle redoes the
  * work idempotently (staging is overwritten, the version rename is
  * skipped-if-exists, the batch dedups against what the new version already
  * contains). Readers never see a partial table — the reader path resolves
  * `_current` and scans exactly one version directory.
  *
  * Scale shape: the incoming batch joins the existing log LEFT ANTI on
  * event_id (shuffle proportional to batch + key column of the log, never
  * the payload); expiry is a pushed-down timestamp filter; the rewrite is
  * one pass, z-ordered on (user_id, ts) so per-user time-range reads skip
  * row groups. At 100 TB the rewrite cost is bounded by partitioning the
  * log by day and maintaining only recent days — [[graft.serve.Layout]]'s
  * directory partitioning composes with this job unchanged.
  */
object EventLogMaintenance {

  final case class Report(
      version: Long,      // the newly committed version
      appended: Long,     // fresh batch rows admitted (post-dedup)
      expired: Long,      // rows dropped by the retention cutoff
      retained: Long,     // rows in the committed version
      files: Int)         // parquet files in the committed version

  /** The committed version number, or 0 when the table does not exist.
    *
    * Recovery rule: version directories only ever appear via an atomic
    * rename of a fully-written staging dir, so every `v=N` that exists is
    * complete. If `_current` is missing (the crash window between the old
    * pointer's delete and the new one's rename — some Hadoop filesystems
    * have no overwrite-rename), the highest committed version directory IS
    * the correct pointer target and we resume from it. A child not named
    * exactly `v=<digits>` (an operator's `v=tmp` copy) is skipped. */
  def currentVersion(spark: SparkSession, root: String): Long =
    Commit.pointer(spark, root).getOrElse(
      Commit.versions(spark, root).lastOption.getOrElse(0L))

  /** Read the committed snapshot (empty frame with the events schema when
    * the log has no committed version yet). */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val v = currentVersion(spark, root)
    if (v == 0L) None
    else Some(spark.read.parquet(new Path(root, s"v=$v").toString))
  }

  /** One maintenance cycle: dedup-append `batch`, expire rows with
    * `ts < cutoff`, rewrite compacted (≈`targetBytes` per file) and
    * z-ordered on (user_id, ts epoch). Returns the committed report.
    *
    * Idempotent under replay: running the same cycle twice (same batch,
    * same cutoff) commits a second version with identical content and
    * `appended = 0`. Crash-safe: see object doc — `_current` flips last,
    * atomically. */
  def runCycle(spark: SparkSession, root: String, batch: DataFrame,
               cutoff: java.sql.Timestamp,
               targetBytes: Long = 64L * 1024 * 1024): Report = {
    val f = Commit.fs(spark, new Path(root))
    f.mkdirs(new Path(root))
    val fromV = currentVersion(spark, root)
    val toV = fromV + 1
    val existing = read(spark, root)

    // 1. exactly-once admission: drop batch rows whose event_id the
    //    committed log already contains (left anti = bounded by batch size)
    val incoming = batch.dropDuplicates("event_id")
    val fresh = existing match {
      case Some(log) => incoming.join(log.select("event_id"), Seq("event_id"), "left_anti")
      case None => incoming
    }

    // 2. retention: committed ∪ fresh, minus expired. The cutoff predicate
    //    is an ordinary pushed-down filter on the version scan.
    val unioned = existing match {
      case Some(log) => log.unionByName(fresh)
      case None => fresh
    }
    val live = unioned.filter(col("ts") >= lit(cutoff))

    // 3. build version toV in staging: compact + z-order in ONE write.
    //    zorderWrite range-partitions by the interleaved (user_id, ts)
    //    key, so the file count doubles as the compaction knob:
    //    committed-bytes / targetBytes. The epoch helper column exists
    //    only for the curve and never reaches the committed schema.
    val staging = new Path(root, s"_staging_v$toV")
    f.delete(staging, true) // stale staging from a crashed prior attempt
    val liveBytes = math.max(1L, estimateBytes(spark, root, fromV))
    val numFiles = math.max(1, math.ceil(liveBytes.toDouble / targetBytes).toInt)
    Layout.zorderWrite(
      live.withColumn("__ts_epoch", unix_timestamp(col("ts"))),
      zcols = Seq("user_id", "__ts_epoch"),
      path = staging.toString,
      numFiles = numFiles,
      dropCols = Seq("__ts_epoch"))

    // 4. commit: rename staging → v=N+1 (skip if a replay already placed
    //    it), then flip _current atomically (temp + rename).
    val versionDir = new Path(root, s"v=$toV")
    if (!f.exists(versionDir)) {
      require(f.rename(staging, versionDir),
        s"commit rename failed: $staging -> $versionDir")
    } else f.delete(staging, true)
    Commit.flip(spark, root, toV)

    // 5. report from the COMMITTED version (what readers will see)
    val committed = spark.read.parquet(versionDir.toString)
    val retained = committed.count()
    val appendedCount = fresh.filter(col("ts") >= lit(cutoff)).count()
    val expired = existing.map(_.filter(col("ts") < lit(cutoff)).count()).getOrElse(0L) +
      incoming.filter(col("ts") < lit(cutoff)).count()
    Report(toV, appendedCount, expired, retained, parquetFileCount(f, versionDir))
  }

  /** Garbage-collect versions older than the committed one, keeping
    * `keepVersions` for time travel. Safe to run any time after a commit:
    * readers resolve `_current` first. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] = {
    val cur = currentVersion(spark, root)
    val f = Commit.fs(spark, new Path(root))
    val dropped = Commit.versions(spark, root).filter(_ <= cur - keepVersions)
    dropped.foreach(v => f.delete(new Path(root, s"v=$v"), true))
    dropped
  }

  private def estimateBytes(spark: SparkSession, root: String, v: Long): Long = {
    if (v == 0L) return 0L
    val dir = new Path(root, s"v=$v")
    val f = Commit.fs(spark, dir)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  private def parquetFileCount(f: org.apache.hadoop.fs.FileSystem, dir: Path): Int =
    f.listStatus(dir).count { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
}
