package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's cross-pass stall detector (VERDICT r12 #7):
  * a query is flagged `suspect_stall` exactly when its slowest pass both
  * exceeds the absolute floor AND diverges >ratio× from its fastest —
  * the signature of a shared-VM stall the min-of-passes protocol
  * rejected, which previously cost a verdict cycle to attribute by hand
  * (q_pagerank_filtered r10, q_als_recommend r11). */
class BenchSpec extends AnyFunSuite {

  test("flags a >3x divergent query whose slow pass exceeds 5 s") {
    val got = Bench.suspectStalls(Map(
      "q_stalled" -> Seq(16.4, 4.9), // r11's ALS shape: 3.3x, slow pass 16 s
      "q_steady"  -> Seq(8.0, 7.6)))
    assert(got == Seq("q_stalled"))
  }

  test("divergence on a fast query is not a stall (both passes under the floor)") {
    // 10x swing but the slow pass is 0.5 s — codegen jitter, not a stall
    assert(Bench.suspectStalls(Map("q_tiny" -> Seq(0.5, 0.05))).isEmpty)
  }

  test("a slow-but-consistent query is not a stall") {
    assert(Bench.suspectStalls(Map("q_heavy" -> Seq(9.5, 8.9))).isEmpty)
  }

  test("single-pass runs never flag (no cross-pass evidence)") {
    assert(Bench.suspectStalls(Map("q_once" -> Seq(60.0))).isEmpty)
  }

  test("boundary: exactly ratio x is not flagged, just above is") {
    assert(Bench.suspectStalls(Map("q_edge" -> Seq(15.0, 5.0))).isEmpty)
    assert(Bench.suspectStalls(Map("q_over" -> Seq(15.1, 5.0))) == Seq("q_over"))
  }

  test("multiple stalls sort by name for a deterministic artifact") {
    val got = Bench.suspectStalls(Map(
      "q_b" -> Seq(20.0, 2.0), "q_a" -> Seq(30.0, 3.0)))
    assert(got == Seq("q_a", "q_b"))
  }

  // ---- summaryLine: the r14 headline-last contract (VERDICT r13 #1) ----

  /** A deliberately bloated artifact: 40 split entries with sub-stages, 40
    * tier builds, long names — the growth pattern that truncated r13's
    * headline out of the ~2 KB tail window. */
  private def bloatedLine: String = Bench.summaryLine(
    totalSec = 419.217, nQueries = 223, nErrors = 1, runs = 2,
    blas = "VectorBLAS", gcMsTotal = 123456, gcMsSweep = 7890,
    drainMs = 4321, drainTimeouts = 2, drainSkips = 3,
    cleanerMs = 9876, cleanerEvents = 1234,
    canary = Seq("canary_cpu" -> 0.231, "canary_scan" -> 0.144,
      "canary_shuffle" -> 0.302),
    canaryErrors = Seq("canary_scan" -> 1L),
    stageMin = (1 to 15).map(i => s"q_staged_$i.build" -> i * 0.5),
    gcSweeps = 60,
    gcSweepEvery = 4, stalls = Seq("q_kcore_in_sequence"),
    tierBuild = (1 to 40).map(i =>
      s"edge_tier_variant_number_$i" -> (s"q_trigger_query_$i", i * 0.37)),
    split = (1 to 40).map(i => (s"q_standing_index_gate_number_$i", i * 0.21,
      if (i == 40) Seq("train" -> 6.0, "recommend" -> 0.4) else Nil,
      i * 0.21 + 1.5)),
    topGc = (1 to 10).map(i => s"q_heavy_$i" -> (i * 100L)),
    topQueries = (1 to 10).map(i => s"q_heavy_$i" -> (10.0 - i * 0.5)) :+
      ("q_broken" -> -3.2),
    errors = Seq("q_broken" -> "SparkException: boom"),
    sf = "/root/testdata/sf0.1",
    queriesFile = "/root/repo/bench_queries.json")

  test("headline fields survive a 2 KB tail truncation, however bloated the maps") {
    val tail = bloatedLine.takeRight(2048)
    for (frag <- Seq("\"metric\":\"total\"", "\"value\":419.217",
        "\"n_queries\":223", "\"n_errors\":1", "\"blas\":\"VectorBLAS\"",
        "\"suspect_stall\":[\"q_kcore_in_sequence\"]", "\"unit\":\"sec\"",
        "\"sf\":\"/root/testdata/sf0.1\"",
        // canary normalization (VERDICT r14 #3) must survive the same
        // tail cut the headline does: a judge reads heavies-as-ratio =
        // queries[q] / canary_sum from the kept tail alone
        "\"canaries\":{\"canary_cpu\":0.231,\"canary_scan\":0.144," +
          "\"canary_shuffle\":0.302}",
        "\"canary_sum\":0.677",
        // a canary that errored on some pass must be countable from the
        // kept tail (ADVICE r15: silent cardinality loss)
        "\"canary_errors\":{\"canary_scan\":1}",
        // the full-per-query-map file pointer (VERDICT r16 #2): any tail
        // cut that keeps the headline can reach all per-query values
        "\"queries_file\":\"/root/repo/bench_queries.json\""))
      assert(tail.contains(frag), s"tail lost $frag")
  }

  test("headline fields are the LAST keys on the line, in pinned order") {
    val line = bloatedLine
    val order = Seq("\"canaries\":", "\"canary_sum\":", "\"canary_errors\":",
      "\"queries_file\":", "\"runs\":", "\"suspect_stall\":", "\"blas\":",
      "\"n_errors\":", "\"n_queries\":", "\"unit\":", "\"sf\":",
      "\"metric\":", "\"value\":")
    val idx = order.map(line.lastIndexOf)
    assert(idx.forall(_ >= 0))
    assert(idx == idx.sorted, "headline keys out of pinned order")
    assert(line.endsWith("}") && idx.last > line.length - 30,
      "value must close the line")
  }

  test("attribution maps are capped at top-10 with explicit dropped counts") {
    val line = bloatedLine
    assert(line.contains("\"index_split_dropped\":30"))
    assert(line.contains("\"tier_build_dropped\":30"))
    // stage_min (VERDICT r15 #7) is variable-size attribution: same cap,
    // same explicit dropped count, keeps the most expensive entries
    assert(line.contains("\"stage_min_dropped\":5"))
    assert(line.contains("\"q_staged_15.build\":7.500"))
    assert(!line.contains("q_staged_5.build"))
    // the cap keeps the most expensive entries: #40 (8.4 s build) stays,
    // #5 (1.05 s) is dropped
    assert(line.contains("q_standing_index_gate_number_40"))
    assert(!line.contains("q_standing_index_gate_number_5\""))
  }

  test("named sub-stages ride in the split entry with probe = total - build") {
    val line = bloatedLine
    assert(line.contains(
      """"q_standing_index_gate_number_40":{"build":8.400,"recommend":0.400,"train":6.000,"probe":1.500}"""))
  }

  test("a queries_file path with a quote and a backslash still parses") {
    val hostile = "/tmp/a\"b\\c/bench_queries.json"
    val line = Bench.summaryLine(
      totalSec = 1.5, nQueries = 1, nErrors = 0, runs = 1, blas = "VectorBLAS",
      gcMsTotal = 0, gcMsSweep = 0, drainMs = 0, gcSweeps = 0, gcSweepEvery = 0,
      stalls = Nil, tierBuild = Nil, split = Nil, topGc = Nil,
      topQueries = Seq("q_one" -> 1.5), errors = Nil,
      sf = "/data/sf\"0.1", queriesFile = hostile)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("queries_file").asText() == hostile)
    assert(node.get("sf").asText() == "/data/sf\"0.1")
    assert(node.get("value").asDouble() == 1.5)
  }

  test("the summary line is one valid JSON object") {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(bloatedLine)
    assert(node.get("value").asDouble() == 419.217)
    assert(node.get("n_queries").asInt() == 223)
    assert(node.get("index_split").size() == 10)
    assert(node.get("errors").get("q_broken").asText().startsWith("SparkException"))
    // the ADVICE-r14 drain accounting and the VERDICT-r14-#4 cleaner
    // quiesce ride as first-class fields
    assert(node.get("drain_timeouts").asInt() == 2)
    assert(node.get("drain_skips").asInt() == 3)
    assert(node.get("cleaner_drain_ms").asLong() == 9876L)
    assert(node.get("cleaner_events").asLong() == 1234L)
  }

  // ---- sweepAfter: the peak-triggered hygiene sweep (VERDICT r13 #6) ----

  test("sweep fires on cadence, residency, or the just-ran query's peak") {
    // cadence due
    assert(Bench.sweepAfter(4, 4, 0, 2048, 0, 4096))
    assert(!Bench.sweepAfter(3, 4, 0, 2048, 0, 4096))
    // residual storage past budget
    assert(Bench.sweepAfter(1, 4, 2048, 2048, 0, 4096))
    // the ×32 q_triangles shape: 7.7 GB high-water sweeps immediately
    // instead of bleeding into the next query for up to K-1 slots
    assert(Bench.sweepAfter(1, 4, 100, 2048, 7700, 4096))
    // an ordinary sf0.1 query (sub-GiB peak) does not
    assert(!Bench.sweepAfter(1, 4, 100, 2048, 900, 4096))
  }

  // ---- drainWait: the post-sweep synchronous release (round 14) ----
  // At ×32, q_kcore read 131.6 s in-sequence behind q_triangles' 11.7 GB
  // residue vs 52.2 s solo with only +2.8 s of GC delta: the sweep's
  // fire-and-forget unpersist let the eviction/cleaner I/O run
  // CONCURRENTLY with the next query. drainWait holds the suite until
  // resident storage is actually under the residency budget.

  test("drain-wait returns immediately when residency is already under budget") {
    var polls = 0
    val waited = Bench.drainWait(deadlineMs = 15000, budgetMb = 2048,
      readResidentMb = () => { polls += 1; 100L }, sleep = _ => ())
    assert(waited == 0 && polls == 1)
  }

  test("drain-wait polls until the release lands, then stops") {
    val readings = Iterator(11700L, 8000L, 3000L, 500L, 100L)
    var slept = 0L
    val waited = Bench.drainWait(deadlineMs = 15000, budgetMb = 2048,
      pollMs = 200, readResidentMb = () => readings.next(),
      sleep = slept += _)
    // three sleeps cover the 11700 -> 8000 -> 3000 readings; the 500
    // reading ends the wait without consuming the 100
    assert(waited == 600 && slept == 600 && readings.next() == 100L)
  }

  test("drain-wait gives up at the deadline when residency never drains") {
    var slept = 0L
    val waited = Bench.drainWait(deadlineMs = 1000, budgetMb = 2048,
      pollMs = 300, readResidentMb = () => 11700L, sleep = slept += _)
    // 300+300+300+100: the last step is clamped to the deadline remainder
    assert(waited == 1000 && slept == 1000)
  }

  test("a zero deadline disables the drain-wait entirely (A/B knob)") {
    val waited = Bench.drainWait(deadlineMs = 0, budgetMb = 2048,
      readResidentMb = () => sys.error("must not poll"), sleep = _ => ())
    assert(waited == 0)
  }

  // ---- drain give-up back-off (ADVICE r14) ----
  // A deadline give-up on an undrainable residue must not re-fire the
  // full wait on every later sweep (deadline×nQueries in a pathological
  // leak): re-attempt only when residency has FALLEN below the give-up
  // level.

  test("drain back-off: skip at or above the give-up level, retry below it") {
    // no prior give-up: always attempt
    assert(Bench.shouldAttemptDrain(None, 11700L))
    // gave up at 5000 MB: the same (or higher) residency is the same
    // undrainable residue — skip
    assert(!Bench.shouldAttemptDrain(Some(5000L), 5000L))
    assert(!Bench.shouldAttemptDrain(Some(5000L), 6200L))
    // something released since the give-up: progress is possible again
    assert(Bench.shouldAttemptDrain(Some(5000L), 4999L))
  }

  test("drain give-up: deadline reached over budget is a timeout; the " +
    "zero-deadline A/B disable never is") {
    // genuine give-up: full deadline waited, residency still over budget
    assert(Bench.drainTimedOut(15000L, 15000L, afterMb = 5000L, budgetMb = 2048L))
    // drained successfully before the deadline
    assert(!Bench.drainTimedOut(15000L, 3200L, afterMb = 900L, budgetMb = 2048L))
    // deadline waited but residency fell under budget on the last poll
    assert(!Bench.drainTimedOut(15000L, 15000L, afterMb = 900L, budgetMb = 2048L))
    // SPARK_GRAFT_DRAIN_WAIT_MS=0: waited(0) >= deadline(0) trivially,
    // but a DISABLED wait must not count as a timeout or arm the
    // back-off — the A/B artifact would otherwise claim drain timeouts
    // on a run where no wait ever executed
    assert(!Bench.drainTimedOut(0L, 0L, afterMb = 5000L, budgetMb = 2048L))
  }

  // ---- cleaner quiesce (VERDICT r14 #4) ----
  // The storage drain-wait proves memory is released; shuffle-file
  // deletion still runs in the ContextCleaner thread and taxed ×32
  // successors ~1.7× (139.7 s in-sequence vs 82.0 s same-window solo,
  // BENCH_SF32_r14). quiesce holds the suite until the cleanup-event
  // counter has been quiet for quietMs, bounded by the deadline.

  test("quiesce returns after one quiet window when nothing is being cleaned") {
    var slept = 0L
    val waited = Bench.quiesce(deadlineMs = 20000, quietMs = 500,
      pollMs = 100, readCount = () => 42L, sleep = slept += _)
    assert(waited == 500 && slept == 500)
  }

  test("quiesce keeps waiting while events advance, then stops one quiet window later") {
    // counter advances on the first three polls (cleaner busy), then
    // goes quiet: 3 busy polls + 5 quiet polls at 100 ms
    val readings = Iterator(0L, 1L, 2L, 3L, 3L, 3L, 3L, 3L, 3L)
    val waited = Bench.quiesce(deadlineMs = 20000, quietMs = 500,
      pollMs = 100, readCount = () => readings.next(), sleep = _ => ())
    assert(waited == 800)
  }

  test("quiesce gives up at the deadline under a continuous event storm") {
    var n = 0L
    val waited = Bench.quiesce(deadlineMs = 1000, quietMs = 500,
      pollMs = 300, readCount = () => { n += 1; n }, sleep = _ => ())
    // 300+300+300+100: the last step clamps to the deadline remainder
    assert(waited == 1000)
  }

  test("a zero deadline or zero quiet window disables the quiesce (A/B knob)") {
    assert(Bench.quiesce(deadlineMs = 0, quietMs = 500,
      readCount = () => sys.error("must not poll"), sleep = _ => ()) == 0)
    assert(Bench.quiesce(deadlineMs = 20000, quietMs = 0,
      readCount = () => sys.error("must not poll"), sleep = _ => ()) == 0)
  }

  test("localBlockFiles counts only blockmgr-* trees and survives missing dirs") {
    val root = java.nio.file.Files.createTempDirectory("graft-bfc")
    val bm = root.resolve("blockmgr-test-1");
    java.nio.file.Files.createDirectories(bm.resolve("0a"))
    java.nio.file.Files.write(bm.resolve("0a/shuffle_0_0_0.data"), Array[Byte](1))
    java.nio.file.Files.write(bm.resolve("0a/shuffle_0_0_0.index"), Array[Byte](1))
    // non-blockmgr content is not counted
    java.nio.file.Files.createDirectories(root.resolve("spark-other"))
    java.nio.file.Files.write(root.resolve("loose.txt"), Array[Byte](1))
    assert(Bench.localBlockFiles(Seq(root.toString)) == 2L)
    assert(Bench.localBlockFiles(Seq("/nonexistent-dir-xyz")) == 0L)
  }
}
