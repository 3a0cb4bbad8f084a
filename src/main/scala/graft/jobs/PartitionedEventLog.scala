package graft.jobs

import java.time.ZoneOffset

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tier.PinOps
import graft.lake.{Commit, Layout}

/** Day-partitioned event-log maintenance (VERDICT r9 "next" #7) — the
  * 100 TB form of [[EventLogMaintenance]]. The versioned-table cycle
  * rewrites the WHOLE live log every commit, which its scaladoc waves off
  * with "partition the log by day and maintain only recent days"; this
  * module wires that claim, manifest-style:
  *
  * ```
  * root/data/day=2026-01-15/v3-part….parquet  ← immutable pooled files
  * root/manifest/v=3                          ← one pool-relative path/line
  * root/manifest/v=3.counts                   ← per-day row counts (report metadata)
  * root/_current                              ← committed manifest version
  * ```
  *
  * A commit rewrites ONLY the touched days — the days the deduped batch
  * lands in, plus the single boundary day the retention cutoff falls
  * inside. Days wholly behind the cutoff DROP from the manifest with no
  * rewrite at all (expiry of a closed day is a metadata edit), and
  * untouched days carry their existing file entries forward verbatim. At
  * 100 TB with a daily batch this turns the commit cost from ∝ log into
  * ∝ batch + one day.
  *
  * Crash safety follows the repo's pointer-flip rule: new day files land
  * in the append-only pool under fresh `v{N}-` names, the manifest names
  * exactly the files a reader may see, and `_current` flips last via
  * write-temp + atomic rename. A crash at ANY point leaves orphaned pool
  * files that no committed manifest references — invisible to readers,
  * reclaimed by [[vacuum]] — and a replayed cycle overwrites the dead
  * attempt's manifest before flipping. Readers resolve `_current`, read
  * the manifest's file list with `basePath = root/data`, and get `day` as
  * a genuine partition column: a day-range filter prunes file scans
  * through the ordinary partition-pruning path (spec-asserted).
  *
  * Inside each rewritten day the rows are z-ordered on (user_id, ts) via
  * [[Layout.zorderWrite]] — same curve as the unpartitioned cycle, so
  * per-user time-range reads skip row groups within the day too.
  */
object PartitionedEventLog {

  final case class Report(
      version: Long,            // newly committed manifest version
      appended: Long,           // fresh live batch rows admitted
      expired: Long,            // rows dropped by the cutoff this cycle
      retained: Long,           // rows in the committed snapshot
      rewrittenDays: Seq[String], // days whose files were rewritten
      droppedDays: Seq[String],   // days expired via manifest edit only
      untouchedDays: Seq[String]) // days whose entries carried forward

  private def dayOf(entry: String): String =
    entry.substring("day=".length, entry.indexOf('/'))

  /** Committed manifest version (0 = never committed). `_current` flips
    * atomically, so a missing pointer with manifests present means the
    * delete/rename gap — recover from the highest manifest, which only
    * ever exists fully written (write-temp + rename). */
  def currentVersion(spark: SparkSession, root: String): Long =
    Commit.pointer(spark, root).getOrElse(
      Commit.versions(spark, s"$root/manifest").lastOption.getOrElse(0L))

  private def lines(spark: SparkSession, p: Path): Option[Seq[String]] =
    Commit.read(spark, p).map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))

  /** The file entries (pool-relative `day=D/name.parquet` paths) of
    * manifest `v`. */
  def manifest(spark: SparkSession, root: String, v: Long): Seq[String] =
    lines(spark, new Path(root, s"manifest/v=$v")).getOrElse(Seq.empty)

  /** Per-day row counts of the committed snapshot `v` (`manifest/v=N.counts`,
    * `day<TAB>count` lines) — the metadata that makes the next cycle's
    * Report derivable WITHOUT re-reading the whole log (r10 advisor #2:
    * the post-commit expired/retained counts previously full-scanned the
    * previous manifest every cycle, contradicting the "commit cost ∝
    * batch + one day" claim). Written with the same atomic commit,
    * BEFORE the manifest, so a committed version always has its counts.
    * None only for a log written before this format existed. */
  def dayCounts(spark: SparkSession, root: String, v: Long): Option[Map[String, Long]] =
    lines(spark, new Path(root, s"manifest/v=$v.counts")).map(_.map { l =>
      val Array(d, c) = l.split("\t"); d -> c.toLong
    }.toMap)

  /** The committed snapshot, with `day` as a partition column (prunable).
    * None when nothing has committed or every day has expired. */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val v = currentVersion(spark, root)
    if (v == 0L) return None
    val files = manifest(spark, root, v)
    if (files.isEmpty) None
    else Some(spark.read.option("basePath", s"$root/data")
      .parquet(files.map(e => s"$root/data/$e"): _*))
  }

  /** One maintenance cycle: dedup-append `batch` (exactly-once on
    * event_id vs the live log), expire `ts < cutoff`, rewrite ONLY the
    * touched days, commit manifest `N+1`. Idempotent under replay —
    * rerunning the same cycle admits zero and commits an equal snapshot. */
  def runCycle(spark: SparkSession, root: String, batch: DataFrame,
               cutoff: java.sql.Timestamp,
               targetBytes: Long = 64L * 1024 * 1024): Report = {
    val f = Commit.fs(spark, new Path(root))
    f.mkdirs(new Path(root, "data"))
    f.mkdirs(new Path(root, "manifest"))
    val fromV = currentVersion(spark, root)
    val toV = fromV + 1
    val existing = manifest(spark, root, fromV)
    val byDay: Map[String, Seq[String]] = existing.groupBy(dayOf)
    // the session timezone is pinned UTC (GraftSession/SparkSpec), so the
    // JVM-side cutoff day and the engine-side date_format agree
    val cutoffDay = java.time.Instant.ofEpochMilli(cutoff.getTime)
      .atZone(ZoneOffset.UTC).toLocalDate.toString

    def readEntries(entries: Seq[String]): DataFrame =
      spark.read.parquet(entries.map(e => s"$root/data/$e"): _*)

    // exactly-once admission: anti join on the LIVE log's key column only
    // (column pruning keeps this a key scan, never a payload read)
    val incoming = batch.dropDuplicates("event_id")
    val fresh =
      if (existing.isEmpty) incoming
      else incoming.join(readEntries(existing).select("event_id"),
        Seq("event_id"), "left_anti")
    val freshLive = fresh.filter(col("ts") >= lit(cutoff))
      .withColumn("__day", date_format(col("ts"), "yyyy-MM-dd"))
      .pinTier // consumed per touched day + counted for the report

    // the previous snapshot's per-day counts — the report's raw material.
    // A log written before the counts format existed heals with ONE full
    // grouped scan here and never pays it again.
    val prevCounts: Map[String, Long] =
      if (existing.isEmpty) Map.empty
      else dayCounts(spark, root, fromV).getOrElse(
        readEntries(existing)
          .groupBy(date_format(col("ts"), "yyyy-MM-dd")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

    // day triage: batch days rewrite; the cutoff's own day rewrites (it
    // can hold a mix of expired and live rows); wholly-expired days drop
    // from the manifest with NO rewrite; the rest carry forward verbatim
    val freshPerDay: Map[String, Long] = freshLive
      .groupBy(col("__day")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchDays = freshPerDay.keySet
    val droppedDays = byDay.keySet.filter(_ < cutoffDay)
    val boundaryDays = byDay.keySet.filter(_ == cutoffDay)
    val rewriteDays = (batchDays ++ boundaryDays).toSeq.sorted
    val untouchedDays =
      (byDay.keySet -- rewriteDays -- droppedDays).toSeq.sorted

    // rewrite each touched day into staging, z-ordered within the day;
    // carry (new per-day count, rows expired out of the day) alongside the
    // pooled entries so the report derives from metadata + this-day scans
    // only. freshLive days are all >= cutoffDay, so a rewritten
    // non-boundary day keeps every old row (count carried from prevCounts)
    // — only the single boundary day pays a kept-row count scan.
    val staging = new Path(root, s"_staging_v$toV")
    f.delete(staging, true)
    val rewritten: Seq[(Seq[String], String, Long, Long)] = rewriteDays.map { day =>
      val oldEntries = byDay.getOrElse(day, Seq.empty)
      val keptOldCount: Long =
        if (oldEntries.isEmpty) 0L
        else if (day == cutoffDay)
          readEntries(oldEntries).filter(col("ts") >= lit(cutoff)).count()
        else prevCounts.getOrElse(day, 0L)
      val expiredInDay: Long =
        if (oldEntries.isEmpty || day != cutoffDay) 0L
        else prevCounts.getOrElse(day, 0L) - keptOldCount
      val oldRows =
        if (oldEntries.isEmpty) None
        else Some(readEntries(oldEntries).filter(col("ts") >= lit(cutoff)))
      val dayRows = oldRows match {
        case Some(o) => o.unionByName(
          freshLive.filter(col("__day") === day).drop("__day"))
        case None => freshLive.filter(col("__day") === day).drop("__day")
      }
      val oldBytes = oldEntries.map(e =>
        f.getFileStatus(new Path(root, s"data/$e")).getLen).sum
      val numFiles = math.max(1,
        math.ceil(oldBytes.toDouble / targetBytes).toInt)
      val dayStage = new Path(staging, s"day=$day")
      Layout.zorderWrite(
        dayRows.withColumn("__ts_epoch", unix_timestamp(col("ts"))),
        zcols = Seq("user_id", "__ts_epoch"),
        path = dayStage.toString,
        numFiles = numFiles,
        dropCols = Seq("__ts_epoch"))
      // move the written files into the pool under fresh v{N}- names
      // (append-only: a crash after any move leaves unreferenced files)
      val dataDay = new Path(root, s"data/day=$day")
      f.mkdirs(dataDay)
      val pooled = f.listStatus(dayStage).toSeq.filter(_.isFile)
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        .map { n =>
          val name = s"v$toV-$n"
          require(f.rename(new Path(dayStage, n), new Path(dataDay, name)),
            s"pool move failed for day=$day/$name")
          s"day=$day/$name"
        }
      (pooled, day, keptOldCount + freshPerDay.getOrElse(day, 0L), expiredInDay)
    }
    f.delete(staging, true)
    val moved = rewritten.flatMap(_._1)

    // commit: counts first, then manifest (overwrite a dead attempt's),
    // pointer last — a committed version always has its counts file
    val entries = untouchedDays.flatMap(byDay) ++ moved
    val newDayCounts: Seq[(String, Long)] =
      untouchedDays.map(d => d -> prevCounts.getOrElse(d, 0L)) ++
        rewritten.map(r => r._2 -> r._3)
    Commit.atomicWrite(spark, new Path(root, s"manifest/v=$toV.counts"),
      newDayCounts.sortBy(_._1)
        .map { case (d, c) => s"$d\t$c" }.mkString("", "\n", "\n"))
    Commit.atomicWrite(spark, new Path(root, s"manifest/v=$toV"),
      entries.mkString("\n") + "\n")
    Commit.flip(spark, root, toV)

    // report from committed METADATA (r10 advisor #2): retained = the new
    // counts file; expired existing = dropped days' prior counts + the
    // boundary day's kept-vs-prior delta — no full-log re-read. The only
    // data scans are batch-sized (incoming late rows) — the boundary-day
    // kept count was already paid inside the rewrite loop.
    val retained = newDayCounts.map(_._2).sum
    val appended = freshPerDay.values.sum
    val expiredExisting =
      droppedDays.toSeq.map(d => prevCounts.getOrElse(d, 0L)).sum +
        rewritten.map(_._4).sum
    val expiredIncoming = incoming.filter(col("ts") < lit(cutoff)).count()
    Report(toV, appended, expiredExisting + expiredIncoming, retained,
      rewriteDays, droppedDays.toSeq.sorted, untouchedDays)
  }

  /** Drop manifests older than the kept window, then delete every pool
    * file no kept manifest references (crashed-attempt orphans and
    * rewritten-day predecessors). Safe after any commit: readers resolve
    * `_current` first and the kept window always includes it. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[String] = {
    val cur = currentVersion(spark, root)
    val f = Commit.fs(spark, new Path(root))
    val versions = Commit.versions(spark, s"$root/manifest")
    versions.filter(_ <= cur - keepVersions).foreach { v =>
      f.delete(new Path(root, s"manifest/v=$v"), false)
      f.delete(new Path(root, s"manifest/v=$v.counts"), false)
    }
    val kept = versions.filter(_ > cur - keepVersions)
    val referenced = kept.flatMap(v => manifest(spark, root, v)).toSet
    val dataDir = new Path(root, "data")
    if (!f.exists(dataDir)) return Nil
    val removed = f.listStatus(dataDir).toSeq.filter(_.isDirectory).flatMap { d =>
      f.listStatus(d.getPath).toSeq.filter(_.isFile).flatMap { s =>
        val rel = s"${d.getPath.getName}/${s.getPath.getName}"
        if (referenced.contains(rel)) None
        else { f.delete(s.getPath, false); Some(rel) }
      }
    }
    removed.sorted
  }
}
