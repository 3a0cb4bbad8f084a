package graft.text

import graft.Tier.PinOps
import graft.lake.Commit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The standing inverted index — [[TextAnalysis.bm25TopK]] turned from a
  * per-query corpus recompute into a MAINTAINED structure (the sixth
  * standing tier, the ShingleIndex rule applied to lexical serving): the
  * postings `(term, doc_id, tf, dl)` are persisted once as a
  * term-bucketed catalog table, and a query probes ONLY its own terms'
  * postings — the corpus text is never re-tokenized at serve time.
  *
  * Scale shape of a probe: the bucketed scan prunes to the ≤|terms|
  * buckets holding the query terms (`SelectedBucketsCount` on the plan,
  * row-group skipping via the in-bucket term sort), df re-derives from
  * the PRUNED postings alone (a term filter keeps whole terms, so the
  * pruned count IS the corpus df), global stats come from a one-row
  * versioned sidecar — so probe cost is ∝ the query terms' posting
  * lists, not the corpus, with zero joins beyond two one-row/vocab-k
  * broadcasts and a TakeOrdered top-k. The df aggregate itself plans no
  * exchange: the scan is bucket-partitioned on `term`.
  *
  * Determinism: tf/dl/df/n_docs are integers; `avgdl = sum_dl / n_docs`
  * divides two stored integers (exact IEEE, identical to the avg the
  * recompute form takes); the scoring expression is byte-identical to
  * [[TextAnalysis.bm25TopK]] — so a probe equals the recompute form
  * row-for-row and the `q_bm25_indexed` gate shares `q_bm25`'s oracle
  * verbatim (the persistence-must-not-change-the-verdict class).
  *
  * Admission ([[admit]]): append the postings of genuinely-new docs
  * (anti-join on the index's doc set — idempotent per doc_id, the
  * dedupAppend exactly-once contract) and roll the stats sidecar one
  * version forward with the batch's exact integer deltas. Cost ∝ batch.
  * Stats versions follow the ComponentsIndex crash rule: each admission
  * WRITES `v=N+1`, readers take the highest `_SUCCESS`-complete version,
  * so a crashed admission leaves either no new version (invisible) or a
  * complete one (adopted) — never a torn read. After the write, complete
  * versions before `N` are deleted, so two remain however many admits.
  * Postings appended before the stats flip may be visible to a
  * concurrent probe one stats-version early: BM25 with slightly-stale
  * GLOBAL stats is the standard serving tradeoff (df is always
  * probe-fresh; only n_docs/avgdl lag one admission).
  */
object InvertedIndex {

  /** Posting rows `(term, doc_id, tf, dl)` — dl rides along on every
    * posting (the ShingleIndex `n`-denormalization trick) so a probe
    * needs no doc-length join. dl = Σ tf over the doc's terms = its
    * token count. */
  def postings(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
    documents
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(w))
  }

  /** One-row exact-integer global stats `(n_docs, sum_dl)` — counted over
    * ALL docs (a zero-token doc has no postings but still belongs in
    * n_docs/avgdl, exactly as the recompute form's `lens` counts it). */
  private def statsOf(documents: DataFrame): DataFrame =
    documents
      .select(size(TextAnalysis.tokens(col("text"))).cast("bigint").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  private def statsComplete(spark: SparkSession, statsPath: String)(v: Long) =
    Commit.fs(spark, new Path(statsPath))
      .exists(new Path(statsPath, s"v=$v/_SUCCESS"))

  /** Highest `_SUCCESS`-complete stats version (0 when none). */
  private def currentStatsVersion(spark: SparkSession, statsPath: String): Long =
    Commit.versions(spark, statsPath, statsComplete(spark, statsPath))
      .lastOption.getOrElse(0L)

  private def writeStats(stats: DataFrame, statsPath: String): Unit = {
    val spark = stats.sparkSession
    val next = currentStatsVersion(spark, statsPath) + 1
    stats.coalesce(1).write.mode("overwrite").parquet(s"$statsPath/v=$next")
    Commit.retire(spark, statsPath, statsComplete(spark, statsPath))
  }

  private def readStats(spark: SparkSession, statsPath: String): DataFrame =
    spark.read.parquet(s"$statsPath/v=${currentStatsVersion(spark, statsPath)}")

  /** The shared bucketed-write alignment rule — one sorted run per
    * bucket at any shuffle-partition setting (the ×32 q_bm25_compacted
    * small-file finding lives on the shared doc). */
  private def bucketAligned(df: DataFrame, buckets: Int,
                            bucketCol: String): DataFrame =
    graft.serve.Bucketing.bucketAligned(df, buckets, bucketCol)

  /** Build (overwrite) the standing index: term-bucketed sorted postings
    * as an external catalog table at `path/postings`, stats v=1 at
    * `path/stats`. */
  def build(documents: DataFrame, table: String, path: String,
            buckets: Int = 32): Unit = {
    documents.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    bucketAligned(postings(documents), buckets, "term")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "term").sortBy("term")
      .option("path", s"$path/postings").saveAsTable(table)
    writeStats(statsOf(documents), s"$path/stats")
  }

  /** BM25 top-k against the standing index — the serving path. Scoring is
    * the recompute form's expression verbatim over the pruned postings. */
  def probe(spark: SparkSession, table: String, path: String,
            queryTerms: Seq[String], k: Int = 20,
            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "InvertedIndex.probe needs at least one query term")
    val stats = readStats(spark, s"$path/stats")
      .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"))
    val pruned = spark.table(table).filter(col("term").isin(queryTerms: _*))
    val idf = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).as("idf"))
    pruned
      .join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .select(col("doc_id"), col("term"),
        (col("idf") * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Positional postings `(term, doc_id, positions)` — the phrase-query
    * tier: positions is the sorted 0-based occurrence list, so one row
    * per (doc, term) carries everything the anchored intersection needs
    * ([[TextAnalysis.phraseSearch]]'s join, but against pruned buckets
    * instead of a corpus re-tokenization). */
  def positionalPostings(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Build the positional tier as a term-bucketed catalog table at
    * `path/positions` — same layout discipline as [[build]]'s tf tier
    * (bucket pruning on the phrase's own terms, in-bucket term sort). */
  def buildPositional(documents: DataFrame, table: String, path: String,
                      buckets: Int = 32): Unit = {
    documents.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    bucketAligned(positionalPostings(documents), buckets, "term")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "term").sortBy("term")
      .option("path", s"$path/positions").saveAsTable(table)
  }

  /** Exact phrase search against the standing positional tier — the
    * [[TextAnalysis.phraseSearch]] anchored intersection verbatim over
    * the bucket-pruned postings (persistence must not change one count:
    * the gate shares the recompute form's oracle). Probe cost ∝ the
    * phrase terms' posting lists. */
  def probePhrase(spark: SparkSession, table: String,
                  phrase: Seq[String], k: Int = 20): DataFrame = {
    require(phrase.size >= 2, "probePhrase needs at least a 2-term phrase")
    val pruned = spark.table(table)
      .filter(col("term").isin(phrase.distinct: _*))
    def positionsOf(t: String): DataFrame = pruned
      .filter(col("term") === t)
      .select(col("doc_id"), explode(col("positions")).as("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(positionsOf(phrase.head)) {
      case (acc, (t, i)) =>
        acc.join(positionsOf(t)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** Admit a batch: append postings of docs NOT already indexed (replay-
    * safe), roll stats one version forward with the batch's exact
    * integer deltas. Returns the number of docs admitted. Cost ∝ batch:
    * the index is touched only as a doc_id-column scan (the anti-join
    * probe side) plus the appended bucket files. */
  def admit(spark: SparkSession, batch: DataFrame, table: String,
            path: String, buckets: Int = 32): Long = {
    val existing = spark.table(table).select(col("doc_id")).distinct()
    val fresh = batch.join(existing, Seq("doc_id"), "left_anti").pinTier
    val n = fresh.select(col("doc_id")).distinct().count()
    if (n > 0) {
      bucketAligned(postings(fresh), buckets, "term")
        .write.mode("append").format("parquet")
        .bucketBy(buckets, "term").sortBy("term").saveAsTable(table)
      val old = readStats(spark, s"$path/stats")
      val delta = statsOf(fresh)
        .select(col("n_docs").as("d_docs"), col("sum_dl").as("d_dl"))
      // both sides coalesce: a zero-doc side carries a NULL sum (sum over
      // an empty aggregate), and an EMPTY-SEEDED index (the streaming-
      // maintenance bootstrap: build(limit(0)) then admit every batch)
      // must roll forward from (0, NULL) without poisoning the ledger
      writeStats(
        old.crossJoin(delta).select(
          (col("n_docs") + col("d_docs")).as("n_docs"),
          (coalesce(col("sum_dl"), lit(0L))
            + coalesce(col("d_dl"), lit(0L))).as("sum_dl")),
        s"$path/stats")
    }
    n
  }

  /** Count of postings data files currently under the table's location —
    * the small-file metric [[compact]] shrinks (spec-asserted). */
  def postingsFileCount(spark: SparkSession, table: String): Long =
    graft.lake.BucketedTable.fileCount(spark, table)

  /** Compact the postings tier. Every streaming admission appends a
    * fresh set of per-bucket files ([[admit]] via foreachBatch —
    * `streaming/Streams.indexMaintenanceStreamGate`), so N admissions
    * leave ~N files per term bucket: the classic small-file problem — at
    * continuous 100 TB admission the probe's bucket-pruned scan degrades
    * from "read one sorted run" to "read and merge N tiny runs", and the
    * file-listing itself starts to dominate. Compaction rewrites the
    * postings ONCE into one sorted file per bucket and flips the catalog
    * to the rewritten copy:
    *
    *  1. read the current table as a FORCED bucketed scan (the planner's
    *     auto-disable is turned off for the rewrite: a bucketed scan
    *     groups every file of bucket B into one task, which is exactly
    *     the merge unit compaction wants) — SHUFFLE-FREE, the
    *     [[graft.lake.Layout.compact]] rule: at scale the rewrite is
    *     IO-bound and a shuffle would double it;
    *  2. write it as a staging catalog table at `<path>/postings_v=K+1`
    *     with the same bucketBy/sortBy DDL: input partitions already
    *     coincide with output buckets, so each task emits ONE sorted
    *     file per bucket — bucket pruning and the in-bucket term sort
    *     survive compaction by construction;
    *  3. flip: drop the serving table name, rename the staging table
    *     onto it (metadata-only — the rewritten files never move);
    *  4. vacuum the superseded postings directory.
    *
    * The merge unit is a whole bucket (one task per bucket), so size
    * `buckets` to hold a bucket's postings in one task's working set —
    * the standard bucketed-table sizing rule, same as probe-side
    * parallelism.
    *
    * Probe equality pre/post is spec-asserted (compaction must not
    * change one score — the persistence rule). Same single-writer
    * contract as [[admit]]; crash-window and recovery semantics live on
    * [[graft.lake.BucketedTable.compact]], which this delegates to.
    * Returns (files before, files after). */
  def compact(spark: SparkSession, table: String, path: String,
              buckets: Int = 32): (Long, Long) =
    graft.lake.BucketedTable.compact(spark, table, path, "postings",
      "term", buckets)
}
