package graft

import graft.Tier.PinOps

/** Pins the bench harness's cross-pass stall detector (VERDICT r12 #7):
  * a query is flagged `suspect_stall` exactly when its slowest pass both
  * exceeds the absolute floor AND diverges >ratio× from its fastest —
  * the signature of a shared-VM stall the min-of-passes protocol
  * rejected, which previously cost a verdict cycle to attribute by hand
  * (q_pagerank_filtered r10, q_als_recommend r11). A one-time tier build
  * drained in a pass is taken off that pass first. Also pins the summary
  * line's contract and the inter-query release of pinned blocks. */
class BenchSpec extends SparkSpec {

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

  test("a first pass that paid a one-time tier build is not a stall") {
    // q_bfs_dist at sf0.1: pass 1 24.1 s, of which edge_tier_build 14.7 s
    val q = "q_bfs_dist"
    val first = Bench.stallTime(q, 24.1,
      Map("edge_tier_build" -> 14.7, q -> 1.0, s"$q.probe" -> 2.0))
    // only the tier build is taken off: the query's own build and legs stay
    assert(math.abs(first - (24.1 - 14.7)) < 1e-9)
    assert(Bench.suspectStalls(Map(q -> Seq(first, Bench.stallTime(q, 4.9, Map.empty)))).isEmpty)
    // the raw pass totals would have been flagged
    assert(Bench.suspectStalls(Map(q -> Seq(24.1, 4.9))) == Seq(q))
  }

  test("a genuine stall is still flagged with the tier builds taken off") {
    val q = "q_stalled"
    val passes = Seq(Bench.stallTime(q, 24.1, Map("edge_tier_build" -> 2.0)),
      Bench.stallTime(q, 4.9, Map(q -> 0.5)))
    assert(Bench.suspectStalls(Map(q -> passes)) == Seq(q))
  }

  test("releasePinned drops every pinned and cached frame's blocks") {
    val sc = spark.sparkContext
    val pinned = spark.range(1000).toDF("x").pinTier
    val cached = spark.range(10).toDF("y").cache()
    assert(cached.count() == 10L && pinned.count() == 1000L)
    assert(sc.getPersistentRDDs.size >= 2)
    Bench.releasePinned(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.isEmpty)
  }

  // ---- summaryLine: the r14 headline-last contract (VERDICT r13 #1) ----

  /** A deliberately bloated artifact: 40 split entries with sub-stages, 40
    * tier builds, long names — the growth pattern that truncated r13's
    * headline out of the ~2 KB tail window. */
  private def bloatedLine: String = Bench.summaryLine(
    totalSec = 419.217, nQueries = 223, nErrors = 1, runs = 2,
    blas = "VectorBLAS", gcMsTotal = 123456, gcMsSweep = 7890,
    canary = Seq("canary_cpu" -> 0.231, "canary_scan" -> 0.144,
      "canary_shuffle" -> 0.302),
    canaryErrors = Seq("canary_scan" -> 1L),
    stageMin = (1 to 15).map(i => s"q_staged_$i.build" -> i * 0.5),
    gcSweeps = 60, stalls = Seq("q_kcore_in_sequence"),
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
      gcMsTotal = 0, gcMsSweep = 0, gcSweeps = 0,
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
    assert(node.get("gc_sweeps").asLong() == 60L)
    assert(node.get("gc_sweep_every").asInt() == 4)
  }

  test("an error message with a quote, a backslash and control chars still parses") {
    val msg = "AnalysisException: \"col\" at C:\\tmp\nline 2\u0001end"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val summary = mapper.readTree(Bench.summaryLine(
      totalSec = 0.0, nQueries = 1, nErrors = 1, runs = 1, blas = "VectorBLAS",
      gcMsTotal = 0, gcMsSweep = 0, gcSweeps = 0,
      stalls = Nil, tierBuild = Nil, split = Nil, topGc = Nil,
      topQueries = Seq("q_bad" -> -0.5), errors = Seq("q_bad" -> msg), sf = "sf"))
    assert(summary.get("errors").get("q_bad").asText() == msg)
    val full = mapper.readTree(Bench.contractLine(
      1.5, Seq(("q_ok", 1.5, None), ("q_bad", -0.5, Some(msg))), "sf"))
    assert(full.get("errors").get("q_bad").asText() == msg)
    assert(full.get("queries").get("q_bad").asDouble() == -0.5)
    assert(full.get("value").asDouble() == 1.5)
  }

  // ---- sweepAfter: the fixed-cadence hygiene sweep (r11 A/B) ----

  test("sweep fires on the fixed 4-query cadence") {
    assert(Bench.GcSweepEvery == 4)
    assert(Bench.sweepAfter(4))
    assert(!Bench.sweepAfter(3))
  }
}
