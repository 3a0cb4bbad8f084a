package graft.lake

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The standing tiers' commit files, read and written in ONE place. A
  * tier commits a version as a `v=N` directory or manifest, then
  * publishes it through a small file: the `_current` pointer, a batch
  * ledger, a count. The versioned tiers (both event logs,
  * ComponentsIndex, ScdTable, IvfPqIndex, CountMin, InvertedIndex stats,
  * the sharded ShingleIndex, BucketedTable's marker) open these files
  * and parse `v=N` names only through here.
  *
  * Writes are atomic (ADVICE r12): the body goes to a sibling temp file,
  * which a SINGLE overwrite-rename (`FileContext` + `Rename.OVERWRITE` —
  * atomic on HDFS and posix local) swaps onto the target. The previous
  * per-tier idiom was delete-then-rename: a crash between the two left NO
  * pointer at all, so `currentVersion` resolved to 0 and every subsequent
  * probe/admit failed reading a nonexistent `v=0/` — an outage, where a
  * stale pointer would only have been stale serving. With one operation
  * there is no in-between state: readers see the old value or the new
  * one. A tier whose pointer is missing anyway (an operator `rm`, a
  * legacy crash) picks its own recovery, written at the call site as
  * `pointer(...).getOrElse(<rule>)`. */
object Commit {

  /** The Hadoop FileSystem of `p` (HDFS/S3 at deployment scale — never
    * `java.io.File`, whose listing of a remote path is silently empty). */
  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomically publish `body` at `target` (overwrites any prior file). */
  def atomicWrite(spark: SparkSession, target: Path, body: String): Unit = {
    val f = fs(spark, target)
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    FileContext
      .getFileContext(f.makeQualified(target).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(f.makeQualified(tmp), f.makeQualified(target),
        Options.Rename.OVERWRITE)
  }

  /** The trimmed UTF-8 body of the commit file at `p`, None when absent. */
  def read(spark: SparkSession, p: Path): Option[String] =
    try {
      val in = fs(spark, p).open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** The version `root/_current` names, None when the pointer is absent. */
  def pointer(spark: SparkSession, root: String): Option[Long] =
    read(spark, new Path(root, "_current")).map(_.toLong)

  /** Publish version `v` as `root/_current`. */
  def flip(spark: SparkSession, root: String, v: Long): Unit =
    atomicWrite(spark, new Path(root, "_current"), v.toString)

  private val VersionName = "v=([0-9]+)".r

  /** N of a child named exactly `v=<digits>`; None for any other name and
    * for an N that does not fit in a Long. */
  def versionOf(name: String): Option[Long] = name match {
    case VersionName(n) => n.toLongOption
    case _              => None
  }

  /** Ascending N over the `v=N` children (directories or manifest files)
    * of `dir` that pass `complete`; empty when `dir` is absent. Other
    * names (`v=tmp`, `v=1.counts`, `_current`, …) are skipped. */
  def versions(spark: SparkSession, dir: String,
               complete: Long => Boolean = _ => true): Seq[Long] = {
    val d = new Path(dir)
    val children =
      try fs(spark, d).listStatus(d).toSeq
      catch { case _: FileNotFoundException => Nil }
    children.flatMap(s => versionOf(s.getPath.getName)).filter(complete).sorted
  }

  /** Delete every `v=N` child of `dir` that passes `complete` except the
    * newest two: the one just committed and its predecessor, which a
    * reader may have resolved just before the commit (the IvfPqIndex
    * keep-one-back rule). Incomplete versions are left alone. */
  def retire(spark: SparkSession, dir: String, complete: Long => Boolean): Unit = {
    val f = fs(spark, new Path(dir))
    versions(spark, dir, complete).dropRight(2)
      .foreach(v => f.delete(new Path(dir, s"v=$v"), true))
  }
}
