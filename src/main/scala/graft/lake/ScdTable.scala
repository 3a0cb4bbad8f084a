package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tier.PinOps

/** The MAINTAINED type-2 dimension — [[Scd.scd2Merge]] wired into a
  * standing structure (VERDICT r10 "next" #4), the fifth next to
  * [[graft.dedup.ShingleIndex]], [[graft.sim.IvfIndex]],
  * [[graft.graph.ComponentsIndex]] and [[graft.graph.EdgeTier]]. The merge
  * operator alone computes the merged dimension; at 100 TB somebody has to
  * PERSIST it with the crash-window discipline the event log has, and the
  * naive form — rewrite the whole dimension per batch — is exactly the
  * drop-and-rebuild ingest this module replaces (the reference reloads its
  * collections wholesale per load, `YoutubeDataset_loader_final.py:87-123`).
  *
  * Admission economics — merge cost ∝ batch, not dimension:
  *   - HISTORY is append-only: the rows a batch expires land in
  *     `history/part_v=N` and nothing ever rewrites a closed row. Lineage
  *     ("which config produced this shard" as-of questions) accretes.
  *   - The CURRENT slice is hash-bucketed on the key with per-bucket
  *     copy-on-write: a batch touches the buckets its keys hash into, the
  *     merge joins ONLY those buckets' rows (partition-pruned scan, the
  *     manifest maps bucket → committed version), and only those buckets
  *     rewrite. Untouched buckets carry forward as metadata. With buckets
  *     sized to a bounded row count (scale `nBuckets` with the dimension,
  *     the standard bucketed-table operator), admit cost is
  *     batch-proportional: ~|touched buckets| · bucket size.
  *   - The touched-bucket list is a driver round-trip bounded by
  *     `nBuckets` (the IVF ≤nlist partition-prune precedent), never by
  *     dimension or batch row count.
  *
  * Layout (pointer-flip commit, the [[graft.graph.ComponentsIndex]] /
  * [[graft.jobs.PartitionedEventLog]] rule):
  *
  * ```
  * path/history/part_v=N/…      ← rows expired at commit N (append-only)
  * path/current/v=N/bucket=B/…  ← commit N's rewrite of each touched bucket
  * path/manifest/v=N            ← "#key/#attrs/#buckets" header + "B<TAB>V" rows
  * path/_current                ← committed version (flips LAST, atomically)
  * ```
  *
  * Crash safety: both data legs and the manifest land under the NEXT
  * version before `_current` flips via write-temp + atomic rename. A crash
  * at any point leaves the old version fully consistent and readers never
  * list uncommitted directories (reads resolve the manifest's explicit
  * `(version, bucket)` pairs — orphans are not even in the scan). Any later
  * admission first deletes `> current` leftovers, so a crashed admission is
  * invisible and ANY subsequent batch heals — no same-batch-replay
  * requirement. [[vacuum]] reclaims superseded bucket directories.
  */
object ScdTable {

  private def bucketOf(key: String, nBuckets: Int) =
    pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int")

  /** Committed version, 0 when never committed (pointer flips atomically). */
  def currentVersion(spark: SparkSession, path: String): Long =
    Commit.pointer(spark, path).getOrElse(0L)

  /** Table metadata + bucket→version map of manifest `v`. */
  final case class Manifest(key: String, attrs: Seq[String], nBuckets: Int,
                            buckets: Map[Int, Long])

  def manifest(spark: SparkSession, path: String, v: Long): Manifest = {
    val body = Commit.read(spark, new Path(path, s"manifest/v=$v"))
    require(body.isDefined, s"scd-table manifest v=$v missing under $path")
    val lines = body.get.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val meta = lines.filter(_.startsWith("#"))
      .map(_.stripPrefix("#").split("=", 2)).map(a => a(0) -> a(1)).toMap
    val pairs = lines.filterNot(_.startsWith("#"))
      .map { l => val Array(b, bv) = l.split("\t"); b.toInt -> bv.toLong }.toMap
    Manifest(meta("key"),
      meta("attrs").split(",").toSeq.filter(_.nonEmpty),
      meta("buckets").toInt, pairs)
  }

  private def writeManifest(spark: SparkSession, path: String, toV: Long,
                            m: Manifest): Unit = {
    Commit.fs(spark, new Path(path)).mkdirs(new Path(path, "manifest"))
    val body =
      s"#key=${m.key}\n#attrs=${m.attrs.mkString(",")}\n#buckets=${m.nBuckets}\n" +
        m.buckets.toSeq.sorted.map { case (b, v) => s"$b\t$v" }.mkString("\n") + "\n"
    Commit.atomicWrite(spark, new Path(path, s"manifest/v=$toV"), body)
  }

  /** Delete `> current` data/manifest leftovers from a crashed attempt —
    * shared by every writer path so the recovery rule lives in one place. */
  private def clearOrphans(spark: SparkSession, path: String, cur: Long): Unit = {
    val f = Commit.fs(spark, new Path(path))
    Seq("current", "manifest").foreach { sub =>
      Commit.versions(spark, s"$path/$sub").filter(_ > cur)
        .foreach(v => f.delete(new Path(path, s"$sub/v=$v"), true))
    }
    val history = new Path(path, "history") // partition dirs `part_v=N`
    if (f.exists(history)) f.listStatus(history).foreach { s =>
      if (Commit.versionOf(s.getPath.getName.stripPrefix("part_")).exists(_ > cur))
        f.delete(s.getPath, true)
    }
  }

  /** Initialize (version 1) from a full SCD-shaped dimension frame
    * (`key + attrs + version_from/version_to/is_current`). */
  def build(dim: DataFrame, path: String, key: String, attrs: Seq[String],
            nBuckets: Int = 64): Unit = {
    val spark = dim.sparkSession
    require(currentVersion(spark, path) == 0L,
      s"scd table already committed under $path — use admit()")
    clearOrphans(spark, path, 0L)
    val toV = 1L
    dim.filter(!col("is_current"))
      .write.mode("overwrite").parquet(s"$path/history/part_v=$toV")
    dim.filter(col("is_current"))
      .withColumn("bucket", bucketOf(key, nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/current/v=$toV")
    writeManifest(spark, path, toV,
      Manifest(key, attrs, nBuckets, (0 until nBuckets).map(_ -> toV).toMap))
    Commit.flip(spark, path, toV)
  }

  /** The committed current slice — an explicit-path pruned scan of the
    * manifest's `(version, bucket)` pairs (orphan directories are never
    * listed, let alone read). */
  def current(spark: SparkSession, path: String): DataFrame = {
    val m = manifest(spark, path, currentVersion(spark, path))
    val byV: Map[Long, Seq[Int]] =
      m.buckets.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val df = spark.read.option("basePath", s"$path/current")
      .parquet(byV.keys.toSeq.sorted.map(v => s"$path/current/v=$v"): _*)
    val keep = byV.map { case (v, bs) =>
      col("v") === lit(v) && col("bucket").isin(bs.map(Integer.valueOf): _*)
    }.reduce(_ || _)
    df.filter(keep).drop("v", "bucket")
  }

  /** The append-only expired-row log (`part_v` pruned to committed). */
  def history(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path)
    spark.read.parquet(s"$path/history")
      .filter(col("part_v") <= v).drop("part_v")
  }

  /** The full dimension as of the committed version. */
  def dim(spark: SparkSession, path: String): DataFrame =
    history(spark, path).unionByName(current(spark, path))

  /** Time travel: the dimension AS OF commit `version` ([[Scd.asOf]] over
    * the standing table — rows opened by later commits drop out, rows
    * they expired come back). */
  def dimAsOf(spark: SparkSession, path: String, version: Long): DataFrame =
    Scd.asOf(dim(spark, path), version)

  final case class AdmitReport(version: Long, touchedBuckets: Seq[Int],
                               expired: Long, opened: Long)

  /** Merge one batch (key + attrs): expire/open/insert via
    * [[Scd.scd2Merge]] over ONLY the touched buckets' current rows, append
    * the expired rows to history, rewrite the touched buckets, commit.
    * The batch's version is the committed version + 1. Idempotent: a
    * replayed batch finds attrs equal, expires nothing, and rewrites the
    * touched buckets with identical content. */
  def admit(spark: SparkSession, batch: DataFrame, path: String): AdmitReport = {
    val fromV = currentVersion(spark, path)
    require(fromV > 0L, s"scd table never built under $path — use build()")
    val toV = fromV + 1
    clearOrphans(spark, path, fromV)
    val m = manifest(spark, path, fromV)

    // touched buckets: driver round-trip bounded by nBuckets, never rows
    val b = batch.dropDuplicates(m.key).pinTier
    val touched = b.select(bucketOf(m.key, m.nBuckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val byV: Map[Long, Seq[Int]] = m.buckets
      .filter { case (bk, _) => touched.contains(bk) }
      .groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val touchedCurrent =
      if (byV.isEmpty)
        current(spark, path).limit(0) // fresh-key-only batch, empty table slice
      else {
        val df = spark.read.option("basePath", s"$path/current")
          .parquet(byV.keys.toSeq.sorted.map(v => s"$path/current/v=$v"): _*)
        val keep = byV.map { case (v, bs) =>
          col("v") === lit(v) && col("bucket").isin(bs.map(Integer.valueOf): _*)
        }.reduce(_ || _)
        df.filter(keep).drop("v", "bucket")
      }

    val merged = Scd.scd2Merge(touchedCurrent, b, m.key, m.attrs, toV)
      .pinTier // two consumers (history leg, current leg) + report counts
    val expired = merged.filter(!col("is_current"))
    val opened = merged.filter(col("is_current") &&
      col("version_from") === lit(toV))
    // data legs first (invisible until the flip), manifest, pointer LAST
    expired.write.mode("overwrite").parquet(s"$path/history/part_v=$toV")
    merged.filter(col("is_current"))
      .withColumn("bucket", bucketOf(m.key, m.nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/current/v=$toV")
    writeManifest(spark, path, toV,
      m.copy(buckets = m.buckets ++ touched.map(_ -> toV)))
    Commit.flip(spark, path, toV)
    AdmitReport(toV, touched, expired.count(), opened.count())
  }

  /** Drop manifests outside the kept window and delete every current
    * bucket directory no kept manifest references (superseded rewrites and
    * crashed-attempt orphans). History is never vacuumed — append-only
    * lineage is the point of type 2. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 2): Seq[String] = {
    val cur = currentVersion(spark, path)
    val f = Commit.fs(spark, new Path(path))
    val versions = Commit.versions(spark, s"$path/manifest")
    val kept = versions.filter(v => v > cur - keepVersions && v <= cur)
    versions.filterNot(kept.contains)
      .foreach(v => f.delete(new Path(path, s"manifest/v=$v"), false))
    // .toSeq first: mapping the Map directly would rebuild a Map keyed on
    // the swapped-in version and collapse every bucket sharing a version
    val referenced: Set[(Long, Int)] = kept.flatMap { v =>
      manifest(spark, path, v).buckets.toSeq.map { case (bk, bv) => (bv, bk) }
    }.toSet
    val removed = Commit.versions(spark, s"$path/current").flatMap { v =>
      f.listStatus(new Path(path, s"current/v=$v")).toSeq.filter(_.isDirectory)
        .flatMap { bd =>
          val bn = bd.getPath.getName
          if (!bn.matches("bucket=\\d+")) None
          else if (referenced.contains((v, bn.stripPrefix("bucket=").toInt))) None
          else { f.delete(bd.getPath, true); Some(s"v=$v/$bn") }
        }
    }
    removed.sorted
  }
}
