package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared maintenance for BUCKETED catalog tables — the physical form the
  * admission-heavy standing tiers use (the inverted index's postings, the
  * shingle index's 100 TB layout): `bucketBy(col)` keeps the probe join
  * exchange-free, but every `mode("append")` admission adds a fresh set
  * of per-bucket files, so continuous admission accretes ~one file per
  * admission per bucket — the classic small-file problem.
  *
  * [[compact]] rewrites each bucket to ONE sorted run and flips the
  * catalog:
  *
  *  1. read the table as a FORCED bucketed scan (the planner's
  *     auto-disable heuristic sees no join/aggregate in a plain rewrite
  *     and hands the writer raw file splits — the fragmentation then
  *     SURVIVES compaction; forced, each task reads exactly one bucket's
  *     files, which is precisely the merge unit) — SHUFFLE-FREE, the
  *     [[Layout.compact]] rule;
  *  2. write a staging table with the same bucketBy/sortBy DDL at
  *     `<stagingBase>/<prefix>_v=K+1` — bucket pruning and the in-bucket
  *     sort survive by construction;
  *  3. flip: drop the serving name, rename the staging table onto it
  *     (metadata-only — the rewritten files never move);
  *  4. vacuum the directory the PREVIOUS compact superseded (one cycle
  *     deferred — a probe that resolved the old location just before the
  *     flip can finish its scan; same keep-one-back rule as
  *     IvfPqIndex.build), and record this cycle's superseded location in
  *     a `<prefix>__superseded` marker for the next cycle.
  *
  * Same single-writer contract as the tiers' admits; the flip is two
  * catalog operations, so a crash between them leaves the staging table
  * fully written and the serving name absent — recovery is re-running
  * the rename; the data directories are never torn. The merge unit is a
  * whole bucket (one task per bucket), so size `buckets` to hold a
  * bucket's rows in one task's working set — the standard bucketed-table
  * sizing rule, same as probe-side parallelism. */
object BucketedTable {

  private def location(spark: SparkSession, table: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location)

  /** Count of data files currently under the table's location — the
    * small-file metric [[compact]] shrinks (spec-asserted). */
  def fileCount(spark: SparkSession, table: String): Long = {
    val loc = location(spark, table)
    val f = Commit.fs(spark, loc)
    if (!f.exists(loc)) 0L
    else {
      val it = f.listFiles(loc, true)
      var n = 0L
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (s.isFile && !name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }

  /** Compact the bucketed table (see the class doc). `stagingBase` is the
    * directory the rewritten copy lands under (versioned as
    * `<prefix>_v=K+1`, K parsed from the current location's name);
    * `sortCols` defaults to the bucket column. Returns
    * (files before, files after). */
  def compact(spark: SparkSession, table: String, stagingBase: String,
              prefix: String, bucketCol: String, buckets: Int,
              sortCols: Seq[String] = Nil): (Long, Long) = {
    val oldLoc = location(spark, table)
    val before = fileCount(spark, table)
    val next = Commit.versionOf(oldLoc.getName.stripPrefix(s"${prefix}_"))
      .getOrElse(1L) + 1
    val stagedPath = s"$stagingBase/${prefix}_v=$next"
    val stagedTable = s"${table}__compacting"
    val sort = if (sortCols.nonEmpty) sortCols else Seq(bucketCol)
    spark.sql(s"DROP TABLE IF EXISTS $stagedTable")
    val autoBucketKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.getOption(autoBucketKey)
    spark.conf.set(autoBucketKey, "false")
    try
      spark.table(table)
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, bucketCol).sortBy(sort.head, sort.tail: _*)
        .option("path", stagedPath).saveAsTable(stagedTable)
    finally prevAuto match {
      case Some(v) => spark.conf.set(autoBucketKey, v)
      case None    => spark.conf.unset(autoBucketKey)
    }
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $stagedTable RENAME TO $table")
    // Deferred vacuum (ADVICE r12): a probe that resolved the OLD
    // location just before the flip may still be mid-scan — deleting it
    // now would yank files out from under a reader the single-WRITER
    // contract never covered. Keep the superseded copy one cycle: vacuum
    // the copy the PREVIOUS compact left behind (recorded in a marker
    // file), then record this cycle's superseded location for the next.
    val f = Commit.fs(spark, oldLoc)
    val marker = new Path(stagingBase, s"${prefix}__superseded")
    Commit.read(spark, marker).foreach { prior =>
      // the marker body is a QUALIFIED uri (oldLoc.toString, e.g.
      // file:/...) — qualify stagedPath the same way or the staged-path
      // guard can never match (ADVICE r13: an unqualified compare made
      // the belt-and-braces check inert)
      val qualifiedStaged = f.makeQualified(new Path(stagedPath)).toString
      if (prior.nonEmpty && prior != oldLoc.toString &&
          prior != qualifiedStaged) f.delete(new Path(prior), true)
    }
    Commit.atomicWrite(spark, marker, oldLoc.toString)
    (before, fileCount(spark, table))
  }
}
