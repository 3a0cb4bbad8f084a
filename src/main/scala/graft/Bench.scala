package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark harness — the driver's per-round performance gate.
  *
  * Output protocol (r5, driven by the r4 driver-bench forensics): the
  * driver keeps only the LAST ~2 KB of stdout, so a single 91-query JSON
  * line gets its HEAD cut off and nothing parses (`BENCH_r04.json`:
  * `parsed: null`, 26 queries invisible). The harness now prints, in order:
  *   1. one `{"bench_pass":…}` line per query per pass (per-pass seconds,
  *      GC-time delta, storage-memory high-water) — the attribution trail
  *      for environment divergence; truncated away in the artifact, present
  *      in full logs;
  *   2. the full contract line `{"metric","value","unit","queries":<all>,
  *      "errors","sf"}` — parses completely whenever the consumer keeps
  *      whole stdout;
  *   3. LAST, a compact summary line with the same contract keys but only
  *      the top-10-slowest (plus every errored) query map, plus backend
  *      telemetry (`blas`, gc totals). Since r14 ([[summaryLine]]) the
  *      headline fields sit at the END of that line and the attribution
  *      maps are capped at top-10 with explicit `*_dropped` counts —
  *      r13's artifact lost its headline when `index_split` outgrew the
  *      ~2 KB tail window the old head-first order was sized for.
  */
object Bench {

  /** Which netlib BLAS implementation spark.ml will actually use — loaded
    * once and stamped into the artifact: VectorBLAS (jdk.incubator.vector
    * present, the fast path build.sbt arranges) vs Java11BLAS/F2jBLAS
    * (silent scalar fallback when the invocation path drops the module).
    * ALS throughput differs ~3x between them (measured r4), so the bench
    * artifact must prove which solver ran. */
  lazy val blasBackend: String =
    try dev.ludovic.netlib.blas.BLAS.getInstance.getClass.getSimpleName
    catch { // a missing netlib jar surfaces as NoClassDefFoundError
      case NonFatal(_) | _: LinkageError => "unavailable"
    }

  /** Locale-pinned %.3f: the f-interpolator honors the JVM default
    * locale, and a comma-decimal locale would turn every numeric field
    * into `1,234` — invalid JSON, defeating the truncation-survivable
    * summary this protocol exists for. */
  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  private def jmap(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Cross-pass stall detector (VERDICT r12 #7): two rounds in a row spent
    * a verdict cycle attributing environmental stalls from raw per-pass
    * lines (q_pagerank_filtered r10, q_als_recommend r11). A query whose
    * slowest pass exceeds `minSec` seconds AND ran > `ratio`× its fastest
    * pass is flagged `suspect_stall` in the summary artifact — the min is
    * what the query costs, the divergent max is shared-box noise, and the
    * attribution now ships IN the artifact instead of as a next-round
    * investigation. Pure over the recorded pass times so BenchSpec can pin
    * the boundary cases. */
  def suspectStalls(passTimes: Map[String, Seq[Double]],
                    ratio: Double = 3.0, minSec: Double = 5.0): Seq[String] =
    passTimes.toSeq.collect {
      case (name, ts) if ts.size >= 2 && ts.min > 0 &&
        ts.max > minSec && ts.max / ts.min > ratio => name
    }.sorted

  /** The standing-tier builds in a query's drained telemetry: every key
    * but the query's own (its build) and its `<query>.<stage>` legs. These
    * are the entries that feed `tier_build`. */
  def tierBuilds(name: String, drained: Map[String, Double]): Map[String, Double] =
    drained.filter { case (k, _) => k != name && !k.startsWith(name + ".") }

  /** A pass's time as [[suspectStalls]] sees it: its total less the tier
    * builds drained during that pass. A one-time build is paid by the
    * first pass only, and is no stall. */
  def stallTime(name: String, sec: Double, drained: Map[String, Double]): Double =
    sec - tierBuilds(name, drained).values.sum

  /** Releases every persistent RDD's blocks, pins included, and the SQL
    * cache: the inter-query release of Bench, Verify, Stress and
    * ProbeProfile. `SparkContext.unpersistRDD` drops the blocks directly;
    * `RDD.unpersist` would log a lineage-truncation WARN for every
    * locally checkpointed pin. Unlike `RDD.unpersist` it leaves each RDD's
    * storage level set, so a released RDD that is computed again caches
    * blocks no later release sees: only query-local RDDs, dropped with
    * their finished query, may be released this way. */
  def releasePinned(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.keys.foreach(Bridge.unpersistRDD(sc, _))
    spark.catalog.clearCache()
  }

  /** The inter-query `System.gc()` hygiene sweep runs every
    * [[GcSweepEvery]] queries: r11's A/B cut the per-query sweep's 93.5 s
    * of a 342 s suite to this cadence (BASELINE.md §5, which also records
    * why no other sweep trigger is kept). */
  val GcSweepEvery: Int = 4

  def sweepAfter(sinceSweep: Int): Boolean = sinceSweep >= GcSweepEvery

  /** The same-session canary set (VERDICT r14 #3): three tiny fixed
    * plan-invariant probes — pure codegen CPU, one small shuffle, one
    * parquet scan+agg — run at the START of every pass. Their cost
    * moves with the box (shared-VM drift, disk contention), never with
    * the library (no graft operator in any of them), so heavies
    * reported as a RATIO to the canary floor separate environment drift
    * from plan regressions using the artifact alone: r13→r14 the top-10
    * heavies moved +15–48 % on identical plans while the suite total
    * moved +4.7 %, and the attribution had to live in prose. Each
    * canary is noop-sunk like a real query; sizes are fixed constants
    * independent of `sfDir`'s scale except the scan (whose input is the
    * comparator corpus itself — the I/O floor of the box that session).
    * Comparability is therefore WITHIN a config/corpus window: the
    * shuffle canary's task count follows the session's shuffle-partition
    * setting and the scan follows the corpus, so canary ratios across
    * different partition settings or SF dirs are not meaningful (the
    * ×100 artifact records both windows' canaries side by side for
    * exactly this reason). */
  def canaries(spark: org.apache.spark.sql.SparkSession,
               sfDir: String): Seq[(String, () => Unit)] = Seq(
    "canary_cpu" -> (() =>
      spark.range(20000000L).selectExpr("sum(id * 3 + 7) AS s")
        .write.format("noop").mode("overwrite").save()),
    "canary_shuffle" -> (() =>
      spark.range(2000000L).selectExpr("id % 1000 AS k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()),
    "canary_scan" -> (() =>
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(l_quantity) AS s")
        .write.format("noop").mode("overwrite").save()))

  /** The compact summary line (r14 contract, VERDICT r13 #1): the driver
    * artifact keeps only the LAST ~2 KB of stdout, and in r13 the
    * headline fields — emitted FIRST on the line since r5 — were pushed
    * out of that window when `index_split` grew to 25 entries. Two fixes,
    * both here and both spec-pinned:
    *   - the variable-size maps (`gc_ms`, `tier_build`, `index_split`,
    *     `queries`, `errors`) are emitted FIRST and the headline fields
    *     (`suspect_stall`, `blas`, `n_errors`, `n_queries`, `unit`, `sf`,
    *     `metric`, `value`) LAST, so a tail cut eats attribution detail,
    *     never the authoritative number;
    *   - `tier_build` and `index_split` are capped at the top-10 most
    *     expensive entries with an explicit `*_dropped` count (no silent
    *     caps), bounding the attribution span between the query map and
    *     the headline.
    * `split` entries carry optional NAMED sub-stages (VERDICT r13 #5 —
    * e.g. q_als_recommend's train/recommend/resolve), with `probe` always
    * the remainder `total − build`. Pure so BenchSpec can pin the field
    * order and the tail-survival budget. */
  def summaryLine(totalSec: Double, nQueries: Int, nErrors: Int, runs: Int,
                  blas: String, gcMsTotal: Long, gcMsSweep: Long,
                  canary: Seq[(String, Double)] = Nil,
                  canaryErrors: Seq[(String, Long)] = Nil,
                  stageMin: Seq[(String, Double)] = Nil,
                  gcSweeps: Long, stalls: Seq[String],
                  tierBuild: Seq[(String, (String, Double))],
                  split: Seq[(String, Double, Seq[(String, Double)], Double)],
                  topGc: Seq[(String, Long)], topQueries: Seq[(String, Double)],
                  errors: Seq[(String, String)], sf: String,
                  queriesFile: String = ""): String = {
    val gcJ = jmap(topGc.map { case (k, v) => k -> v.toString })
    val tiersTop = tierBuild.sortBy(-_._2._2).take(10)
    val tiersJ = jmap(tiersTop.sortBy(_._1).map { case (k, (q, sec)) =>
      k -> s"""{"q":"$q","sec":${f3(sec)}}"""
    })
    val splitTop = split.sortBy(-_._2).take(10)
    val splitJ = jmap(splitTop.sortBy(_._1).map { case (q, b, stages, total) =>
      q -> (s"""{"build":${f3(b)}""" +
        stages.sortBy(_._1).map { case (s, v) => s""","$s":${f3(v)}""" }.mkString +
        s""","probe":${f3(total - b)}}""")
    })
    val stallsJ = stalls.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qsJ = jmap(topQueries.map { case (k, v) => k -> f3(v) })
    val errsJ = jmap(errors.map { case (k, m) => k -> Json.quote(m) })
    val canaryJ = jmap(canary.map { case (k, v) => k -> f3(v) })
    val canarySum = canary.map(_._2).sum
    // name tiebreak: stageMin arrives from an unordered map, and a
    // value-only sort would let equal-cost entries at the cap boundary
    // swap across runs — spurious artifact diffs on identical measures
    val stageTop = stageMin.sortBy { case (k, v) => (-v, k) }.take(10)
    val stageJ = jmap(stageTop.sortBy(_._1).map { case (k, v) => k -> f3(v) })
    s"""{"gc_ms":$gcJ,"tier_build":$tiersJ,""" +
      s""""tier_build_dropped":${tierBuild.size - tiersTop.size},""" +
      s""""index_split":$splitJ,""" +
      s""""index_split_dropped":${split.size - splitTop.size},""" +
      // per-STAGE min across passes (VERDICT r15 #7): index_split's
      // build/stages come from the one best-TOTAL pass, so a single
      // noisy stage inside an otherwise-calm pass still poisons the
      // split (the sf1 ALS 280/51/78 spread). stage_min is each named
      // stage's own min over every pass — the floor a stage costs when
      // the box leaves it alone — robust to per-stage burst noise.
      s""""stage_min":$stageJ,""" +
      s""""stage_min_dropped":${stageMin.size - stageTop.size},""" +
      s""""queries":$qsJ,"errors":$errsJ,""" +
      s""""gc_ms_total":$gcMsTotal,"gc_ms_sweep":$gcMsSweep,""" +
      s""""gc_sweeps":$gcSweeps,"gc_sweep_every":$GcSweepEvery,""" +
      // `canaries` is FIXED-cardinality (the three probes), so it may
      // live in the truncation-surviving headline zone: heavies-as-
      // ratio-to-canary = queries[q] / canary_sum, derivable from any
      // tail cut that keeps the headline (VERDICT r14 #3)
      s""""canaries":$canaryJ,"canary_sum":${f3(canarySum)},""" +
      // a canary that failed EVERY pass drops out of `canaries` (its
      // fast-fail elapsed must not feed the floor) — without this count
      // the reduced cardinality is invisible in the headline and
      // cross-round ratio baselines shift silently (ADVICE r15). Fixed
      // cardinality (≤3), so it may live in the headline zone.
      s""""canary_errors":${jmap(canaryErrors.map { case (k, v) =>
        k -> v.toString })},""" +
      // where the COMPLETE per-query map was written (VERDICT r16 #2:
      // BENCH_r15 lost its round-over-round comparison because only the
      // stdout tail survived and the full contract line's head was cut —
      // the full map now also lands in this file, and the path is a
      // fixed-size headline field so any tail cut that keeps the
      // headline can reach all 225 per-query values)
      s""""queries_file":${Json.quote(queriesFile)},""" +
      s""""runs":$runs,"suspect_stall":$stallsJ,"blas":"$blas",""" +
      s""""n_errors":$nErrors,"n_queries":$nQueries,"unit":"sec",""" +
      s""""sf":${Json.quote(sf)},"metric":"total","value":${f3(totalSec)}}"""
  }

  /** The full contract line: the complete per-query map (a failed query
    * at its negative elapsed) and every error message. Parses when stdout
    * is kept whole; its head is what a 2 KB tail cut sacrifices. */
  def contractLine(total: Double, results: Seq[(String, Double, Option[String])],
                   sf: String): String = {
    val qs = jmap(results.map { case (k, v, _) => k -> v.toString })
    val errs = jmap(results.collect { case (k, _, Some(m)) => k -> Json.quote(m) })
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":${Json.quote(sf)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, appName = "graft-bench")
    // warmup outside the timed region: without it the first measured query
    // absorbs several seconds of classloader + codegen-compiler startup and
    // its number is position-dependent, not workload-dependent. Best-effort:
    // a missing warmup table must not kill the run before the per-query
    // harness (which contains failures) even starts.
    try {
      spark.range(1000000).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) => System.err.println(s"[bench] warmup failed: $e") }
    // storage-memory high-water sampler: a daemon polling the status
    // tracker, reset per query — post-hoc attribution for "late queries
    // measure GC pressure, not their plan" regressions
    val storagePeak = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      while (true) {
        try {
          val used = spark.sparkContext.statusTracker.getExecutorInfos
            .map(i => i.usedOnHeapStorageMemory + i.usedOffHeapStorageMemory).sum
          storagePeak.getAndAccumulate(used, math.max)
        } catch { case NonFatal(_) => () } // best-effort poll; next tick retries
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    // optional args: bench only the named queries (local profiling aid)
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.contains).toMap
      else SparkEntry.queries
    // the suite runs as `runs` FULL PASSES and each query reports its MIN
    // across passes: single-run numbers on a shared VM showed 8x phantom
    // swings on unchanged trivial plans (VERDICT r3), and the observed
    // stalls last tens of seconds — so back-to-back attempts of one query
    // share a stall, while whole-suite passes separate the attempts by
    // minutes and reject it. A query that fails is not retried on later
    // passes.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val names = selected.keys.toSeq
    val best = scala.collection.mutable.Map[String, Double]()
    // build/probe split from the best (min-total) pass of each composite
    // staged-index query — the attribution VERDICT r6 asked for: the gate
    // pays index BUILD per pass, so total alone can't show the probe win
    val bestBuild = scala.collection.mutable.Map[String, Double]()
    // GC-time delta of each query's best pass — surfaced for the top-10 in
    // the compact summary so an environmental stall (GC pressure, shared-VM
    // noise) is attributable from the truncation-surviving artifact alone
    // (VERDICT r7: two 3-9x driver regressions were unprovable either way)
    val bestGc = scala.collection.mutable.Map[String, Long]()
    // named sub-stages of the best pass's build (drained keys of the form
    // `<query>.<stage>`, e.g. q_als_recommend.train) — VERDICT r13 #5
    val bestStages = scala.collection.mutable.Map[String, Seq[(String, Double)]]()
    val failedAt = scala.collection.mutable.Map[String, Double]()
    val errors = scala.collection.mutable.Map[String, String]()
    // every successful pass time per query, net of the tier builds it
    // drained — feeds the suspect_stall flag
    val passTimes =
      scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    // one-time standing-tier builds (EdgeTier etc.) drained under their own
    // telemetry key: attributed to the query that triggered them, so that
    // query's number is explainable and every later probe reads clean
    val tierBuilds = scala.collection.mutable.Map[String, (String, Double)]()
    // the inter-query System.gc() hygiene sweep is a FORCED full collection
    // — its cost is harness protocol, not query GC, and must be separable
    // in the artifact (VERDICT r9 "what's wrong" #2): the artifact records
    // the cadence (gc_sweep_every), the sweep count (gc_sweeps) and their
    // GC time (gc_ms_sweep)
    var sinceSweep = 0
    var gcSweeps = 0L
    var gcSweepMs = 0L
    // canary floors (VERDICT r14 #3): min across passes per canary; and
    // per-canary error counts (ADVICE r15 — an always-failing canary
    // must be VISIBLE in the headline, not silently absent)
    val canaryBest = scala.collection.mutable.Map[String, Double]()
    val canaryErrs = scala.collection.mutable.Map[String, Long]()
    // per-stage min across ALL passes (VERDICT r15 #7) — keyed
    // `<query>.<stage>` (build recorded as `<query>.build`)
    val stageMins = scala.collection.mutable.Map[String, Double]()
    val gcTotal0 = gcMillis
    Telemetry.drain() // discard warmup-era recordings
    for (pass <- 1 to runs) {
    // pass-start canaries: the box-noise floor measured in the SAME
    // session minutes as the heavies they normalize (see canaries)
    for ((cname, run) <- canaries(spark, sfDir)) {
      val c0 = System.nanoTime()
      // a FAILED canary must not feed the floor: its fast-fail elapsed
      // (~10 ms) would become the min for the whole run and silently
      // inflate every ratio-to-canary — the exact misattribution class
      // the canaries exist to prevent. Record the error in-band instead.
      val cerr = try { run(); None } catch {
        case NonFatal(e) => Some(e.getClass.getSimpleName)
      }
      val cdt = (System.nanoTime() - c0) / 1e9
      cerr match {
        case None =>
          if (cdt < canaryBest.getOrElse(cname, Double.MaxValue))
            canaryBest(cname) = cdt
          println(s"""{"bench_canary":$pass,"q":"$cname","sec":${f3(cdt)}}""")
        case Some(cls) =>
          canaryErrs(cname) = canaryErrs.getOrElse(cname, 0L) + 1
          println(s"""{"bench_canary":$pass,"q":"$cname","err":"$cls"}""")
      }
    }
    for (name <- names if !errors.contains(name)) {
      val fn = selected(name)
      storagePeak.set(0L)
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune every computed
      // column out of a map-only query, timing the scan instead of the work
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case NonFatal(e) =>
          Some((e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
            .take(160))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val drained = Telemetry.drain()
      val buildSec = drained.get(name)
      // `<query>.<stage>` keys are the query's OWN sub-stages, not tiers
      val stageSecs = drained.collect {
        case (k, sec) if k.startsWith(name + ".") =>
          k.stripPrefix(name + ".") -> sec
      }.toSeq.sortBy(_._1)
      Bench.tierBuilds(name, drained).foreach { case (k, sec) =>
        if (!tierBuilds.contains(k)) tierBuilds(k) = (name, sec)
      }
      // every pass feeds the per-stage floors, not just the best-total
      // pass (VERDICT r15 #7); only successful passes count — a failed
      // pass's partial stage timings are not a floor
      if (err.isEmpty) {
        buildSec.foreach { b =>
          val k = name + ".build"
          if (b < stageMins.getOrElse(k, Double.MaxValue)) stageMins(k) = b
        }
        stageSecs.foreach { case (s, v) =>
          val k = name + "." + s
          if (v < stageMins.getOrElse(k, Double.MaxValue)) stageMins(k) = v
        }
      }
      if (err.isEmpty) passTimes(name) = stallTime(name, dt, drained) :: passTimes(name)
      if (err.isEmpty && dt < best.getOrElse(name, Double.MaxValue)) {
        best(name) = dt
        bestGc(name) = gcMillis - gc0
        // build/stages must come from the SAME pass as the total they are
        // subtracted from: a build-once gate (standing state persists
        // across passes) records no build on its fast later passes, and
        // keeping the stale pass-1 build against a pass-2 total printed a
        // NEGATIVE probe (observed: q_pagerank_incremental at sf1,
        // build 28.3 vs total 11.4). A best pass without its own build
        // telemetry gets no split entry — the one-time build stays
        // visible in the per-pass lines and in `tier_build`.
        buildSec match {
          case Some(b) => bestBuild(name) = b
          case None    => bestBuild.remove(name)
        }
        if (stageSecs.nonEmpty) bestStages(name) = stageSecs
        else bestStages.remove(name)
      }
      if (err.nonEmpty) failedAt(name) = dt
      err.foreach(errors(name) = _)
      println(s"""{"bench_pass":$pass,"q":"$name","sec":${f3(dt)},""" +
        s""""gc_ms":${gcMillis - gc0},""" +
        s""""storage_peak_mb":${storagePeak.get() / (1024 * 1024)}""" +
        buildSec.map(b => s""","build_sec":${f3(b)}""").getOrElse("") +
        (drained - name).toSeq.sortBy(_._1)
          .map { case (k, v) => s""","$k":${f3(v)}""" }.mkString +
        err.map(m => ",\"err\":" + Json.quote(m)).getOrElse("") + "}")
      // release the query's pinned state before the next query:
      // localCheckpoint blocks stay in the block manager until their RDD is
      // GC'd, so a 90-query suite otherwise accumulates every pinned
      // shingle tier / fixpoint state in storage memory and the late
      // queries measure GC pressure, not their own plan (observed: ALS
      // 22 s solo vs 78 s at the end of a full run). Invariant this sweep
      // relies on: no cross-query persistent state — queries build their
      // own plans from the parquet sources each time (ContractSpec).
      releasePinned(spark)
      // broadcast blocks are only reclaimed by the ContextCleaner on GC —
      // nudge it so broadcast-heavy fixpoints don't accumulate residency
      // across the suite (VERDICT r4 "what's wrong" #3), amortized to
      // every GcSweepEvery queries
      sinceSweep += 1
      if (sweepAfter(sinceSweep)) {
        val gcSweep0 = gcMillis
        System.gc()
        gcSweepMs += gcMillis - gcSweep0
        gcSweeps += 1
        sinceSweep = 0
      }
    }
    }
    // a failed query reports NEGATIVE elapsed — visibly broken, never a
    // plausible "fast" measurement — using the FAILING attempt's own
    // elapsed (a query that succeeded on pass 1 and failed on pass 2 must
    // not report its successful time as the failure's)
    val results = names.map { n =>
      val v = if (errors.contains(n)) -failedAt.getOrElse(n, 0.0)
              else best.getOrElse(n, Double.NaN)
      (n, v, errors.get(n))
    }
    val total = results.collect { case (_, v, None) => v }.sum
    val fullLine = contractLine(total, results, sfDir)
    println(fullLine)
    // ALSO persist the full contract line to a file and advertise the path
    // in the tail-surviving headline (VERDICT r16 #2): a truncated stdout
    // artifact can then still reconstruct the per-query round-over-round
    // comparison for every query, not just the top-10. Best-effort — a
    // read-only cwd must not fail the measurement that already happened.
    val queriesFile = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_QUERIES_FILE", "bench_queries.json")
    val queriesFileWritten =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(queriesFile),
          (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Paths.get(queriesFile).toAbsolutePath.toString
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] cannot write $queriesFile: $e")
        ""
      }
    // compact summary LAST — inside any tail window: top-10 slowest plus
    // every errored query, capped attribution maps, and the headline
    // fields at the very END of the line (see summaryLine's contract)
    val top = (results.filter(_._3.isDefined) ++
        results.filter(_._3.isEmpty).sortBy(-_._2).take(10)).distinct
    val split = bestBuild.toSeq.map { case (k, b) =>
      (k, b, bestStages.getOrElse(k, Nil), best(k))
    }
    println(summaryLine(
      totalSec = total, nQueries = names.size, nErrors = errors.size,
      runs = runs, blas = blasBackend, gcMsTotal = gcMillis - gcTotal0,
      gcMsSweep = gcSweepMs,
      canary = canaryBest.toSeq.sortBy(_._1),
      canaryErrors = canaryErrs.toSeq.sortBy(_._1),
      stageMin = stageMins.toSeq,
      gcSweeps = gcSweeps,
      stalls = suspectStalls(passTimes.toMap),
      tierBuild = tierBuilds.toSeq,
      split = split,
      topGc = top.collect { case (k, _, None) if bestGc.contains(k) =>
        k -> bestGc(k) },
      topQueries = top.map { case (k, v, _) => k -> v },
      errors = results.collect { case (k, _, Some(m)) => k -> m },
      sf = sfDir, queriesFile = queriesFileWritten))
    spark.stop()
  }
}
