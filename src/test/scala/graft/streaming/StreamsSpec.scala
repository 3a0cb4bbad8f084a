package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  def ev(id: Long, t: String, uid: Long, typ: String, v: Double): Streams.Event =
    Streams.Event(id, Timestamp.valueOf(t), uid, typ, v, "{}")

  val batch1 = Seq(
    ev(1, "2024-01-01 00:05:00", 1, "click", 1.0),
    ev(2, "2024-01-01 00:20:00", 1, "error", 2.0),
    ev(3, "2024-01-01 01:10:00", 2, "click", 3.0))
  val batch2 = Seq(
    ev(4, "2024-01-01 01:30:00", 1, "click", 4.0),
    ev(5, "2024-01-01 02:05:00", 2, "error", 5.0))

  test("streaming tumblingCounts over two batches equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumble")
      .outputMode("complete").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("tumble")
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      val batch = Streams.tumblingCounts((batch1 ++ batch2).toDF())
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.exists { case (w, t, n, _) =>
        w.startsWith("2024-01-01 01:00") && t == "click" && n == 2 })
    } finally q.stop()
  }

  test("hourly stream gate equals the batch twin on the fixture") {
    // drives the full driver-gate path (staged chunks, one file per
    // trigger, complete-mode memory sink, view dropped) — the plumbing
    // q_user_sessions_stream shares
    val streamed = Streams.hourlyCountsStreamGate(spark, sf)
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect()
    val batch = Streams.hourlyCountsBatch(graft.model.Tables.events(spark, sf))
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_gate_")),
      "gate must drop its memory-sink temp view")
  }

  test("daily pivot stream gate equals the batch pivot on the fixture") {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val streamed = Streams.dailyPivotStreamGate(spark, sf, types)
      .withColumn("day", col("day").cast("string"))
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Temporal.dailyTypePivot(
        graft.model.Tables.events(spark, sf), types)
      .withColumn("day", col("day").cast("string"))
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("a streaming gate that fails before the drain restores the fan-in and leaks no stage dir") {
    // an empty type list makes the transform throw after the gate-scoped
    // shuffle override is set, before start(): the override, the stage
    // dir and the sink view must all be released on that path too
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def stageDirs(): Set[String] =
      Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft-"))
    val before = stageDirs()
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    assert(prior == "4")
    intercept[NoSuchElementException] {
      Streams.dailyPivotStreamGate(spark, sf, Nil)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior)
    assert(stageDirs() -- before == Set.empty[String])
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_gate_")))
  }

  test("stream-stream join gate equals the batch band join on the fixture") {
    // append mode + live eviction: cross-chunk pairs near the time split
    // must survive the watermark for this to hold
    val ev = graft.model.Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"), col("ts"))
    val batch = graft.ops.Temporal
      .timeProximityPairs(clicks, errs, "user_id", windowSec = 3600)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), min(abs(col("dt_us"))).as("min_dt_us"))
      .orderBy(col("user_id"))
      .as[(Long, Long, Long)].collect()
    val streamed = Streams.clickErrorPairsStreamGate(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("dedup stream gate equals the batch distinct aggregation on the fixture") {
    // parity-split chunks: rows sharing a fingerprint land in different
    // micro-batches, so drops must come from cross-batch dedup state
    val batch = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), col("props"), col("value")).distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_uniq"),
        graft.ops.Aggregations.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
      .as[(String, Long, Double)].collect()
    val streamed = Streams.dedupStreamGate(spark, sf)
      .as[(String, Long, Double)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_gate_")),
      "gate must drop its memory-sink temp view")
  }

  test("custom-state profile gate equals the batch per-user aggregate") {
    // parity-split chunks straddle every user's events across micro-
    // batches: the final flatMapGroupsWithState profile is only right if
    // the fold resumed from cross-batch GroupState
    val batch = graft.model.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        round(max(col("value")), 4).as("max_value"))
      .orderBy(col("user_id"))
      .as[(Long, Long, Long, Double)].collect()
    val streamed = Streams.runningProfileStreamGate(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("runningUserProfile carries state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.runningUserProfile(spark, mem.toDS())
      .writeStream.format("memory").queryName("profiles")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val last = spark.table("profiles")
        .groupBy("user_id").agg(max(struct(col("n_events"), col("n_errors"), col("max_value"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.n_errors"), col("s.max_value"))
        .as[(Long, Long, Long, Double)].collect().toMap2
      assert(last(1L) == (3L, 1L, 4.0)) // 3 events over both batches, state kept
      assert(last(2L) == (2L, 1L, 5.0))
    } finally q.stop()
  }

  implicit class M(rows: Array[(Long, Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Long, Double)] =
      rows.map { case (u, a, b, c) => u -> ((a, b, c)) }.toMap
  }

  test("file-stream source: incremental parquet ingest matches batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    val path = dir.getAbsolutePath
    // write the real events fixture out in two "arriving" chunks
    val events = graft.model.Tables.events(spark, sf).cache()
    events.filter(col("event_id") % 2 === 0).write.parquet(s"$path/chunk=0")
    events.filter(col("event_id") % 2 === 1).write.parquet(s"$path/chunk=1")
    val stream = Streams.readEventsStream(spark, s"$path/chunk=*")
    val q = Streams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("filetumble")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filetumble")
        .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      val batch = Streams.tumblingCounts(events)
        .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streamingDedup drops repeated fingerprints across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.streamingDedup(mem.toDF())
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    try {
      // same (type, props, value, ts) appears in both batches -> kept once
      val dup = ev(1, "2024-01-01 00:05:00", 1, "click", 1.0)
      mem.addData(dup, ev(2, "2024-01-01 00:06:00", 2, "view", 2.0))
      q.processAllAvailable()
      mem.addData(dup.copy(event_id = 99), ev(3, "2024-01-01 00:07:00", 3, "view", 3.0))
      q.processAllAvailable()
      val got = spark.table("dedupstream")
      assert(got.count() == 3) // 4 events in, 1 duplicate dropped
      assert(got.filter(col("event_type") === "click").count() == 1)
    } finally q.stop()
  }

  test("exactly-once sink: a replayed micro-batch appends no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-eos").toFile
    val lake = s"${dir.getAbsolutePath}/events_lake"
    val ckpt = s"${dir.getAbsolutePath}/ckpt"
    val mem = MemoryStream[Streams.Event]
    val q = Streams.exactlyOnceSink(mem.toDF(), lake, "event_id", ckpt)
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      assert(spark.read.parquet(lake).count() == 3)
      // crash-replay: foreachBatch redelivers an already-written batch
      // (at-least-once). The idempotent dedupAppend must be a no-op.
      graft.ingest.Ingest.dedupAppend(spark, batch1.toDF(), lake, "event_id")
      assert(spark.read.parquet(lake).count() == 3)
      // partial-overlap redelivery: one old row rides along with new data —
      // only the genuinely new rows land
      mem.addData(batch1.head); mem.addData(batch2: _*); q.processAllAvailable()
      val rows = spark.read.parquet(lake)
      assert(rows.count() == 5)
      assert(rows.select("event_id").distinct().count() == 5)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch band join") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Streams.Event]
    val errors = MemoryStream[Streams.Event]
    val q = Streams.clickErrorPairsStream(clicks.toDF(), errors.toDF(), windowSec = 60)
      .writeStream.format("memory").queryName("bandstream")
      .outputMode("append").start()
    try {
      clicks.addData(
        ev(1, "2024-01-01 00:10:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:20:00", 2, "click", 1.0))
      errors.addData(
        ev(10, "2024-01-01 00:10:30", 1, "error", 1.0), // 30s after click 1 -> pair
        ev(11, "2024-01-01 00:25:00", 2, "error", 1.0)) // 5m after click 2 -> out
      q.processAllAvailable()
      // second batch: a pair that spans batches (click arrives after its error)
      clicks.addData(ev(3, "2024-01-01 00:26:00", 2, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("bandstream")
        .select(col("click_id"), col("err_id"), col("dt_us"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == Set((1L, 10L, -30000000L), (3L, 11L, 60000000L)))
      // batch twin over the union of both sides agrees
      val all = Seq(
        ev(1, "2024-01-01 00:10:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:20:00", 2, "click", 1.0),
        ev(3, "2024-01-01 00:26:00", 2, "click", 1.0),
        ev(10, "2024-01-01 00:10:30", 1, "error", 1.0),
        ev(11, "2024-01-01 00:25:00", 2, "error", 1.0)).toDF()
      val batch = graft.ops.Temporal.timeProximityPairs(
        all.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts")),
        all.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_id"), col("ts")),
        "user_id", 60)
        .select(col("click_id"), col("err_id")).as[(Long, Long)].collect().toSet
      assert(streamed.map(t => (t._1, t._2)) == batch)
    } finally q.stop()
  }

  test("streaming index maintenance: drained admissions answer like the all-at-once build") {
    // documents arrive in three micro-batches; foreachBatch admissions
    // (at-least-once delivery, exactly-once state via the doc-id
    // anti-join) must leave an index whose probe equals both the
    // recompute form and a single-shot build — arrival order, batch
    // boundaries and the empty-seed bootstrap are all score-invariant
    val terms = Seq("join", "merge", "window")
    val got = Streams.indexMaintenanceStreamGate(spark, sf, terms)
      .as[(Long, Long, Double)].collect().toSeq
    val want = graft.text.TextAnalysis.bm25TopK(
        graft.model.Tables.documents(spark, sf), terms)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == want, s"streamed index diverged from recompute:\n$got\nvs\n$want")
  }

  test("batch session windows split on the 5-minute gap") {
    val events = Seq(
      ev(1, "2024-01-01 00:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 00:04:00", 1, "click", 1.0), // same session (4m gap)
      ev(3, "2024-01-01 00:09:00", 1, "click", 1.0), // same session (5m - 1ms? no: exactly 5m gap -> new)
      ev(4, "2024-01-01 00:30:00", 1, "click", 1.0)  // new session
    ).toDF()
    val got = Streams.userSessionsBatch(events)
      .select(col("session_start").cast("string"), col("n_events"))
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("2024-01-01 00:00:00", 3L), ("2024-01-01 00:30:00", 1L)))
  }
}
