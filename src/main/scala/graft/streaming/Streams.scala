package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table (north-star scope — the
  * reference is batch-only, SURVEY.md §2.10; its closest analogue is the
  * memory-bounded incremental XML ingest, `YoutubeDataset_loader_final.py:
  * 75-108`, which maps to a file-stream source here).
  *
  * Every aggregation is written once and runs in both modes: the batch twin
  * is the same expression tree, which is what makes the DuckDB oracle able
  * to check streaming semantics. Watermarks bound state; at 100 TB/day the
  * watermark delay IS the state-size knob.
  */
object Streams {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over an events directory/glob (S1 analogue):
    * incremental, memory-bounded, schema asserted at the boundary. */
  def readEventsStream(spark: SparkSession, pathGlob: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(pathGlob)

  /** Tumbling-window counts per event type with a 10-minute watermark.
    * Works identically on a batch DataFrame (the oracle path). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows per user (5-minute inactivity gap) — built-in
    * session_window keeps merge logic inside Catalyst; state per live
    * session only. */
  def userSessions(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  // ---- custom state: running per-user anomaly counter ----

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class UserRunning(user_id: Long, n_events: Long, n_errors: Long, max_value: Double)

  /** flatMapGroupsWithState — the arbitrary-state operator the built-in
    * windows can't express: a per-user running profile emitted on every
    * update. ProcessingTimeTimeout would evict idle users in production;
    * NoTimeout keeps the test deterministic. */
  def runningUserProfile(spark: SparkSession, events: Dataset[Event]): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0L, Double.MinValue))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserRunning(uid, acc.n_events + 1,
              acc.n_errors + (if (e.event_type == "error") 1 else 0),
              math.max(acc.max_value, e.value))
          }
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming exact dedup: drop events whose content fingerprint was
    * already seen, with state bounded by the watermark (an id seen again
    * after `delay` is treated as new — the standard stream-dedup contract;
    * unbounded exactness would need unbounded state). The streaming half of
    * the dedup funnel in [[graft.dedup.Dedup]]: the same fingerprint column
    * drives both the batch corpus pass and the ingest-time stream filter. */
  def streamingDedup(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withColumn("fp", xxhash64(col("event_type"), col("props"), col("value")))
      .withWatermark("ts", delay)
      .dropDuplicates("fp", "ts")

  /** Stream-stream interval join — the streaming twin of
    * [[graft.ops.Temporal.timeProximityPairs]]: click events joined to
    * error events of the same user within ±`windowSec`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can size and EVICT the join state (an unbounded stream-stream
    * join would buffer both streams forever — at 100 TB/day the watermark
    * delay is the state-size knob, same rule as the windowed aggs).
    * Emits (user_id, click_id, err_id, dt_us). */
  def clickErrorPairsStream(clicks: DataFrame, errors: DataFrame,
                            windowSec: Int, delay: String = "10 minutes"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    val e = errors.select(col("event_id").as("err_id"),
        col("user_id").as("e_user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", delay)
    c.join(e,
        col("user_id") === col("e_user_id") &&
          col("e_ts") >= col("c_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("e_ts") <= col("c_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("user_id"), col("click_id"), col("err_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("e_ts"))).as("dt_us"))
  }

  /** Exactly-once lake sink: `foreachBatch` + [[graft.ingest.Ingest.dedupAppend]].
    * foreachBatch delivers each micro-batch AT LEAST once (after a crash
    * between the write and the commit-log record, the batch is replayed),
    * so a plain append would duplicate rows exactly when recovery works as
    * designed. dedupAppend's anti-join against the existing keys makes the
    * write idempotent on `key`, and at-least-once delivery + idempotent
    * write = exactly-once table contents — the standard lake-ingest
    * contract, with no transactional table format required. Replay proof:
    * StreamsSpec re-applies a processed batch and the row count holds. */
  def exactlyOnceSink(events: DataFrame, path: String, key: String,
                      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ingest.Ingest.dedupAppend(batch.sparkSession, batch, path, key)
        ()
      }
      .start()

  /** Batch twin of [[tumblingCounts]] for the DuckDB oracle: identical
    * semantics, date_trunc instead of window() for a flat schema. */
  def hourlyCountsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Top-K event types per hour: grouped count + per-window rank. Catalyst
    * plans the rank filter as a WindowGroupLimit (rank-limit pushdown) — a
    * per-partition top-K before the window sort, so the full per-hour
    * ordering is never materialized; asserted in PlanHygieneSpec. */
  def topEventTypesPerHour(events: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .orderBy(col("window_start"), col("rnk"))
  }

  /** The staged-stream drain every streaming gate runs: write `chunks`
    * under `stage` as "arriving" files (`oneFilePerChunk` coalesces a
    * chunk to one file when arrival order must BE the chunk order), read
    * them back with the trigger capped at one file, so the query runs one
    * micro-batch per file and state MUST carry across batch boundaries —
    * the stateful behavior a single-batch drain would never exercise —
    * then `start` the caller's sink and drain it to completion.
    *
    * FileStreamSource orders files by modification time; on coarse-mtime
    * filesystems consecutive chunk writes can tie and drain out of order,
    * vaulting the watermark past earlier chunks, so each chunk's files are
    * stamped with explicit strictly increasing mtimes.
    *
    * `shufflePartitions` is a gate-scoped fan-in: every stateful operator
    * materializes one state store PER shuffle partition PER micro-batch,
    * and at the session's partition count the fixed store init/commit
    * overhead dwarfs fixture-sized data. Correctness is partition-count-
    * independent. The prior value is restored in a `finally` that covers
    * chunk writing, sink building, `start()` and the drain, so whatever
    * the caller runs afterwards plans at the session's fan-out. */
  private def drainStaged(spark: SparkSession, stage: String,
      chunks: Seq[DataFrame], oneFilePerChunk: Boolean = false,
      shufflePartitions: Option[Int] = None)(
      start: DataFrame => StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val priorParts = shufflePartitions.map(_ => spark.conf.get(key))
    try {
      val mtimeBase = System.currentTimeMillis()
      chunks.zipWithIndex.foreach { case (c, i) =>
        (if (oneFilePerChunk) c.coalesce(1) else c)
          .write.mode("overwrite").parquet(s"$stage/chunk=$i")
        java.nio.file.Files.list(java.nio.file.Paths.get(stage, s"chunk=$i"))
          .forEach { f =>
            if (f.getFileName.toString.endsWith(".parquet"))
              java.nio.file.Files.setLastModifiedTime(f,
                java.nio.file.attribute.FileTime.fromMillis(mtimeBase + 10000L * i))
          }
      }
      shufflePartitions.foreach(n => spark.conf.set(key, n.toString))
      val q = start(spark.readStream.schema(chunks.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stage/chunk=*"))
      try q.processAllAvailable() finally q.stop()
    } finally priorParts.foreach(spark.conf.set(key, _))
  }

  /** `df` split into `n` chunks by `idCol` mod `n` — interleaves every
    * window, session and user across the chunks. */
  private def splitBy(df: DataFrame, idCol: String, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col(idCol), lit(n)) === i))

  /** Gate plumbing for the events-stream twins: [[drainStaged]] the
    * caller's chunk split of the events fixture (default: two chunks by
    * event-id parity) at 8 shuffle partitions through a memory sink, and
    * hand `finish(drained)` back pinned, as the batch DataFrame the
    * driver's oracle compares. The `finish` aggregation plans after the
    * fan-in override is restored.
    *
    * Complete output mode for the windowed/session accumulations: in
    * append mode windowed results are only emitted once the watermark
    * passes them, and a drained finite stream never advances the
    * watermark past its last event, so trailing windows would be withheld
    * and the twin could never equal the batch result. Append mode for the
    * stateful operators that have no complete mode (joins, dedup,
    * arbitrary state) and for the late-data contract. The memory sink's
    * temp view is dropped on every exit: each sink table pins its result
    * in driver memory for the session lifetime, outside Bench's
    * clearCache/unpersist sweep, so repeated gate runs would otherwise
    * accumulate one pinned copy per invocation under a fresh UUID name. */
  private def drainToMemory(spark: SparkSession, sfDir: String,
      outputMode: String = "append",
      chunksOf: DataFrame => Seq[DataFrame] = splitBy(_, "event_id", 2),
      oneFilePerChunk: Boolean = false)(
      xform: DataFrame => DataFrame)(finish: DataFrame => DataFrame): DataFrame = {
    val name = "graft_stream_gate_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try graft.Scratch.pinned("graft-stream-gate") { stage =>
      drainStaged(spark, stage, chunksOf(graft.model.Tables.events(spark, sfDir)),
          oneFilePerChunk, shufflePartitions = Some(8))(stream =>
        xform(stream).writeStream.format("memory").queryName(name)
          .outputMode(outputMode).start())
      finish(spark.table(name))
    } finally { spark.catalog.dropTempView(name); () }
  }

  /** Driver-gated streaming twin of [[userSessionsBatch]]: the SAME
    * session_window aggregation run as an actual Structured Streaming query
    * over a file-stream source, drained to a memory sink, returned as the
    * batch DataFrame the driver's oracle compares — the streaming engine's
    * session semantics are checked against the recursive lag/gap SQL the
    * batch form already passes (the bloom-twin gating pattern). Sums use
    * the decimal-exact dsum so micro-batch accumulation order cannot
    * perturb the float result. */
  def userSessionsStreamGate(spark: SparkSession, sfDir: String,
                             gap: String = "5 minutes"): DataFrame =
    drainToMemory(spark, sfDir, "complete")(stream => stream
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value")))(t => t
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start")))

  /** Driver-gated streaming twin of the band join (q_band_join): the
    * stream-stream interval join run as a real readStream self-join whose
    * drained pair set, batch-aggregated, must equal the bucketed batch
    * join's oracle row-for-row.
    *
    * Unlike the windowed gates there is NO complete mode to hide behind:
    * append-mode inner joins emit each pair when its second row arrives
    * and DROP input older than the watermark. So the fixture is staged in
    * TIME order — first/second half of the event-time range, one file each
    * (unsorted part files would vault the watermark past rows still
    * unread) — and the watermark delay (70 min) exceeds the join window
    * (60 min): state eviction stays live, chunk-0 rows near the boundary
    * must survive it for cross-chunk pairs, and the result must still be
    * exact. This is the eviction-correctness check the windowed gates
    * cannot express. */
  def clickErrorPairsStreamGate(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, sfDir, chunksOf = events => {
      val midUs = events
        .agg(((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / 2)
          .cast("long")).head().getLong(0)
      Seq(events.filter(unix_micros(col("ts")) < midUs),
        events.filter(unix_micros(col("ts")) >= midUs))
    }, oneFilePerChunk = true)(stream => clickErrorPairsStream(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "error"),
      windowSec = 3600, delay = "70 minutes"))(drained => drained
      // the join's pair set is the property under test; the report shape is
      // batch aggregation over the drained sink, compared by the batch oracle
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("dt_us"))).as("min_dt_us"))
      .orderBy(col("user_id")))

  /** Driver-gated streaming twin of exact content dedup — the FOURTH
    * streaming state operator class (after window accumulation, session
    * merge, and join state): [[streamingDedup]]'s dropDuplicates state run
    * as a real append-mode readStream. The fixture is split by event-id
    * parity into two chunks (each multi-file, one file per trigger), so
    * rows sharing a content fingerprint land in different micro-batches
    * and every drop decision must come from cross-batch dedup state, not
    * in-batch distinct.
    *
    * The drained survivor set — one row per distinct fingerprint — is
    * batch-aggregated per event_type and compared to a DISTINCT-triples
    * DuckDB oracle. Deterministic despite arrival-order-dependent
    * survivors because every column that reaches the output is a function
    * of the fingerprint itself (event_id/ts/user_id of the surviving row
    * are dropped before the aggregate). The dedup subset deliberately
    * excludes the event-time column, so state is never watermark-evicted:
    * whole-fixture exactness is the property under test. The bounded-state
    * production form is dropDuplicatesWithinWatermark — same contract as
    * [[streamingDedup]], where the watermark delay is the re-admission
    * window. */
  def dedupStreamGate(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, sfDir)(stream => stream
      .withColumn("fp", xxhash64(col("event_type"), col("props"), col("value")))
      .dropDuplicates("fp"))(survivors => survivors
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_uniq"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type")))

  /** Driver-gated twin of [[runningUserProfile]] — the FIFTH streaming
    * state operator class: ARBITRARY user state via flatMapGroupsWithState,
    * the operator behind everything the built-in windows/joins/dedup can't
    * express. The fixture splits by event-id parity (each user's events
    * straddle both chunks), so the final profile a user reaches can only
    * be right if the fold resumed from cross-batch GroupState.
    *
    * The sink holds one emission per (user, micro-batch); the gate reduces
    * to the FINAL profile per user with per-field max — sound because
    * every profile field is monotone non-decreasing across emissions
    * (counts accumulate, max ratchets). That final state is arrival-order
    * independent (count/sum/max are commutative folds), so it must equal
    * the plain batch aggregate the DuckDB oracle computes; max_value is
    * rounded at the gate boundary per the float-agg oracle rule. */
  def runningProfileStreamGate(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, sfDir)(stream => {
      import spark.implicits._
      runningUserProfile(spark, stream.as[Event]).toDF()
    })(profiles => profiles
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("n_errors")).as("n_errors"),
        round(max(col("max_value")), 4).as("max_value"))
      .orderBy(col("user_id")))

  /** Driver-gated streaming twin of [[hourlyCountsBatch]] — the windowed-
    * aggregation analogue of [[userSessionsStreamGate]]: a real readStream
    * -> tumbling window(1 hour) -> memory-sink query whose drained result
    * must equal the date_trunc batch form row-for-row (window(ts, '1
    * hour').start IS date_trunc('hour', ts)). Session merge and tumbling
    * accumulation are different state operators; this gates the second. */
  def hourlyCountsStreamGate(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, sfDir, "complete")(stream => stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value")))(t => t
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type")))

  /** Driver-gated APPEND-mode tumbling-window aggregation with REAL late
    * data (VERDICT r13 #8) — the watermark CONTRACT is the property under
    * test, where the complete-mode gates could only test accumulation:
    * which late rows are dropped, which merge, and which windows are
    * finalized are all decided by the engine's watermark, and the DuckDB
    * oracle re-derives every one of those decisions from the parquet.
    *
    * The semantics being replayed, pinned EMPIRICALLY by LateDataSpec
    * against a crafted watermark-equals-window-end corpus (all three
    * comparators observed, not assumed):
    *
    *  - the watermark is the ms-FLOORED max event time minus the delay
    *    (event-time stats track micros/1000);
    *  - a window is finalized/emitted when `window.end <= watermark`
    *    (LessThanOrEqual — a window ending exactly AT the watermark is
    *    emitted);
    *  - late-record filtering LAGS eviction by one batch (SPARK-40925,
    *    so chained stateful operators see consistent watermarks): batch
    *    k drops input with `window.end <= eviction watermark of batch
    *    k−1`. A two-chunk gate therefore NEVER drops anything — the
    *    lagged filter is still 0 when the only late batch arrives.
    *
    * Arrival plan, three chunks by `event_id % 3`, each spanning the
    * fixture's whole 30 days, one file per trigger: batch 0 seeds the
    * watermark (W0 = max(chunk-0 ts)ms − delay); batch 1's rows all merge
    * (lagged filter still 0) and windows ≤ W0 finalize; batch 2's rows
    * are dropped exactly when their window end ≤ W0 and merge otherwise;
    * the trailing no-data batches (the drain waits for them —
    * constructNextBatch keeps running while the advancing watermark
    * requires another batch) finalize everything up to
    * `Wall = max(all ts)ms − delay`, withholding later windows in state.
    * Final content is thus: chunks 0/1 in full, chunk 2 where
    * `end > W0`, over windows with `end <= Wall` — which is the DuckDB
    * oracle verbatim. The 10-day delay splits the 30-day span so every
    * population is large at every SF: most chunk-2 rows arrive too late,
    * the last ~10 days' merge, the last ~10 days' windows are withheld. */
  def lateDataWindowStreamGate(spark: SparkSession, sfDir: String,
                               delay: String = "10 days"): DataFrame =
    drainToMemory(spark, sfDir, chunksOf = splitBy(_, "event_id", 3),
      oneFilePerChunk = true)(stream => stream
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value")))(t => t
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type")))

  /** Streaming daily activity matrix — [[graft.ops.Temporal.dailyTypePivot]]'s
    * streaming twin: `pivot()` is unsupported on streaming frames, so the
    * wide matrix runs as the pinned-type conditional-count aggregate Spark
    * CAN accumulate incrementally — which is also exactly the CASE form
    * the batch oracle recomputes, so the twin shares q_pivot_daily's
    * oracle verbatim. Tumbling 1-day windows (window.start IS
    * date_trunc('day'), the hourly-gate precedent); absent cells are 0 by
    * construction here (count of an empty predicate set), matching the
    * batch form's zero fill. */
  def dailyPivotStreamGate(spark: SparkSession, sfDir: String,
                           types: Seq[String]): DataFrame =
    drainToMemory(spark, sfDir, "complete")(stream => {
      val counts = types.map(t =>
        count(when(col("event_type") === t, 1)).as(s"n_$t"))
      stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(counts.head, counts.tail: _*)
    })(t => t
      .select(col("w.start").as("day") +: types.map(c => col(s"n_$c")): _*)
      .orderBy(col("day")))

  /** STREAMING MAINTENANCE of the standing inverted index — the
    * composition the other streaming gates build toward: documents
    * arrive as a file stream, `foreachBatch` ADMITS each micro-batch
    * into [[graft.text.InvertedIndex]] (the [[exactlyOnceSink]] story
    * applied to a standing STRUCTURE: foreachBatch delivers at least
    * once, `admit`'s doc-id anti-join makes the index state exactly
    * once), and after the drain a probe must answer EXACTLY like an
    * index built from the whole corpus at once — so this gate shares
    * q_bm25's oracle verbatim: neither streaming arrival order, batch
    * boundaries, redelivery, nor persistence may change one score.
    * Bootstrap: the index is seeded EMPTY (build on limit(0)) and grows
    * admission by admission — the stats ledger rolls (0, NULL) forward
    * with each batch's exact integer deltas. */
  def indexMaintenanceStreamGate(spark: SparkSession, sfDir: String,
                                 queryTerms: Seq[String]): DataFrame = {
    import graft.text.InvertedIndex
    val table = "graft_gate_stream_invidx"
    val docs = graft.model.Tables.documents(spark, sfDir)
    graft.Scratch.pinned("graft-stream-invidx", table) { stage =>
      drainStaged(spark, stage, splitBy(docs, "doc_id", 3)) { stream =>
        InvertedIndex.build(docs.limit(0), table, s"$stage/idx")
        stream.writeStream
          .option("checkpointLocation", s"$stage/ckpt")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            InvertedIndex.admit(spark, batch, table, s"$stage/idx"); ()
          }.start()
      }
      // foreachBatch runs in a CLONED SparkSession: its appends invalidate
      // the clone's cached table relation, not this session's — without
      // the refresh the probe reads the pre-stream (empty) file listing
      spark.catalog.refreshTable(table)
      InvertedIndex.probe(spark, table, s"$stage/idx", queryTerms)
    }
  }

  /** STREAMING MAINTENANCE of the standing Count-Min sketch — the
    * [[indexMaintenanceStreamGate]] story applied to a SKETCH: documents
    * arrive as a file stream, `foreachBatch` merges each micro-batch's
    * own d×w sketch into the versioned standing sidecar
    * ([[graft.functions.CountMin.admit]] — exactly-once via the
    * version-number-as-batch-ledger, since counter merging is NOT
    * idempotent and an anti-join can't deduplicate counts), and after
    * the drain the standing sketch's estimates must equal the
    * whole-corpus sketch's estimates EXACTLY: Count-Min is linear, so
    * batching is provably invisible — the gate shares
    * q_heavy_hitters_cms's oracle verbatim. */
  def cmsMaintenanceStreamGate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CountMin
    val docs = graft.model.Tables.documents(spark, sfDir)
    graft.Scratch.pinned("graft-stream-cms") { stage =>
      drainStaged(spark, stage, splitBy(docs, "doc_id", 3))(_.writeStream
        .option("checkpointLocation", s"$stage/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          CountMin.admit(spark,
            batch.select(explode(graft.text.TextAnalysis.tokens(col("text")))
              .as("term")),
            "term", s"$stage/cms", batchId)
          ()
        }.start())
      val toks = docs
        .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("term"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(20)
      CountMin.estimate(CountMin.readStanding(spark, s"$stage/cms"), exact, "term")
        .join(exact, Seq("term"))
        .select(col("term"), col("exact_cnt"), col("cms_estimate"),
          (col("cms_estimate") >= col("exact_cnt")).as("never_under"))
        .orderBy(col("exact_cnt").desc, col("term"))
    }
  }

  /** STREAMING MAINTENANCE of the standing IVF-PQ index (VERDICT r12 #8
    * — the ANN side gains the foreachBatch twin the inverted index, CMS
    * and shingle index already have): quantizers are FROZEN on the seed
    * third of the corpus ([[graft.sim.IvfPqIndex.build]]), the remaining
    * vectors arrive as a file stream and each micro-batch is admitted
    * with [[graft.sim.IvfPqIndex.admitBatch]] (frozen-codebook encode +
    * anti-join idempotence for state, version-number batch ledger so a
    * redelivery skips without touching the index), and after the drain a
    * probe must answer EXACTLY like the batch build-on-seed +
    * one-shot-admit — the gate shares q_ann_ivf_pq_grown's oracle
    * verbatim: neither arrival order, batch boundaries, redelivery nor
    * the ledger may change one score. */
  def annMaintenanceStreamGate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sim.IvfPqIndex
    val emb = graft.model.Tables.embeddings(spark, sfDir)
    val thirds = splitBy(emb, "vec_id", 3)
    graft.Scratch.pinned("graft-stream-ivfpq") { stage =>
      drainStaged(spark, stage, thirds.tail) { stream =>
        IvfPqIndex.build(thirds.head, s"$stage/idx")
        stream.writeStream
          .option("checkpointLocation", s"$stage/ckpt")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            IvfPqIndex.admitBatch(spark, batch, s"$stage/idx", batchId); ()
          }.start()
      }
      IvfPqIndex.probe(spark, s"$stage/idx", emb, queryVecId = 0L, k = 10)
    }
  }

  /** Batch session windows (session_window works in batch mode too). */
  def userSessionsBatch(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
}
