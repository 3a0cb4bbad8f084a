package graft

import graft.model.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Steady-state standing-index probe bench (VERDICT r15 #1/#5).
  *
  * The driver gates and the scale campaign's Bench runs pay each
  * standing index's BUILD inside the same timed query as its probe, so
  * the headline `*_indexed` numbers are build-dominated — at ×100,
  * q_bm25_indexed reads 46.4 s of which 39.8 s is corpus-linear index
  * construction a deployment pays ONCE. This main is the steady-state
  * complement: build each index exactly once, then run the probe leg
  * `SPARK_GRAFT_PROBE_REPS` times (default 5) against the standing
  * structure — what a 100 TB operator actually pays per query — and
  * decompose every rep's EXECUTED plan with [[ScanProfile]] (files and
  * bytes read, rows emitted, bucket pruning fired) so the probe-leg
  * growth across corpus scales is attributed by measurement, not prose:
  * scan breadth (files/bytes ∝ selected buckets — pruning holds) vs
  * postings length (rows ∝ corpus — the work the fixed query genuinely
  * asks for).
  *
  * The four profiled legs mirror the gate queries byte-for-byte
  * ([[SparkEntry]] `q_bm25_indexed` / `q_incremental_dedup_bucketed` /
  * `q_phrase_indexed` / `q_ann_ivf_pq_indexed` — same build parameters,
  * same probe arguments), so a steady-state number here is the probe
  * leg of the oracle-green gate, not a lookalike. Between reps the session cache
  * is cleared (only the standing index persists), so rep 2..K measure a
  * warm standing structure, never a cached result.
  *
  * Output: per-rep `{"probe_rep":…}` lines, then ONE summary JSON line
  * `{"metric":"probe_profile",…}` consumed by the BENCH_SF*_r{N}
  * artifacts.
  */
object ProbeProfile {

  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Run `mk`'s frame to completion via collect (small gate results;
    * materializes every column so nothing prunes away) and return
    * (seconds, result rows, executed frame for metric reads). */
  private def timedRep(mk: () => DataFrame): (Double, Long, DataFrame) = {
    val df = mk()
    val t0 = System.nanoTime()
    val n = df.collect().length.toLong
    ((System.nanoTime() - t0) / 1e9, n, df)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt)
    val spark = GraftSession.local(cpus.toInt, appName = "graft-probe-profile")
    // same classloader/codegen warmup as Bench — the first build must not
    // absorb several seconds of JVM startup
    try {
      spark.range(1000000).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) => System.err.println(s"[probe] warmup failed: $e") }

    val results = scala.collection.mutable.LinkedHashMap[String, String]()

    /** Profile one index: the Bench canary set first (the box-noise
      * floor of THIS index's window, so steady-state ratios across
      * ProbeProfile sessions are weather-attributable exactly like the
      * bench heavies — same fixed probes, same within-config-window
      * comparability rule), then `build` once (timed), then `reps`
      * probe reps; scan decomposition read off the LAST rep's executed
      * plan (all reps run the identical plan against the identical
      * index). */
    def profile(name: String, build: () => Unit, probe: () => DataFrame,
                tableFiles: () => Long,
                extra: () => String = () => ""): Unit = {
      // a failed canary is counted, never silently dropped from the
      // floor — the Bench canary_errors rule (ADVICE r15) applies here
      // too: a reduced-cardinality canary_sum must be detectable from
      // the artifact
      var canaryErrs = List.empty[String]
      val canarySecs = Bench.canaries(spark, sfDir).flatMap {
        case (cname, run) =>
          val c0 = System.nanoTime()
          val ok = try { run(); true } catch {
            case NonFatal(_) => canaryErrs ::= cname; false
          }
          if (ok) Some(cname -> (System.nanoTime() - c0) / 1e9) else None
      }
      val canaryJ = canarySecs
        .map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      val canaryErrJ = canaryErrs.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(s"""{"probe_canaries":"$name","canaries":$canaryJ,""" +
        s""""canary_errors":$canaryErrJ}""")
      val b0 = System.nanoTime()
      build()
      val buildSec = (System.nanoTime() - b0) / 1e9
      println(s"""{"probe_build":"$name","sec":${f3(buildSec)}}""")
      var times = List.empty[Double]
      var rows = 0L
      var lastScans = "{}"
      for (r <- 1 to reps) {
        val (dt, n, df) = timedRep(probe)
        times = dt :: times
        rows = n
        // all reps run the identical plan against the identical index —
        // walk the plan (and, for bucketed scans, the table's file
        // listing) once, on the last rep, not reps times
        if (r == reps) lastScans = ScanProfile.json(df)
        println(s"""{"probe_rep":$r,"q":"$name","sec":${f3(dt)},"rows":$n}""")
        // only the standing index may persist between reps — a pinned
        // batch tier or cached intermediate would make rep 2+ measure a
        // cache, not the probe
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
      val secs = times.reverse
      results(name) =
        s"""{"build_sec":${f3(buildSec)},""" +
          s""""probe_secs":[${secs.map(f3).mkString(",")}],""" +
          s""""probe_sec_min":${f3(secs.min)},"result_rows":$rows,""" +
          s""""table_files":${tableFiles()},"scans":$lastScans,""" +
          s""""canaries":$canaryJ,""" +
          s""""canary_errors":$canaryErrJ,""" +
          s""""canary_sum":${f3(canarySecs.map(_._2).sum)}""" +
          extra() + "}"
    }

    val bm25Table = "graft_probe_inverted_index"
    val dedupTable = "graft_probe_shingle_bucketed"
    val phraseTable = "graft_probe_positional_index"
    // a failed build/probe must not leak the corpus-scale staging tree,
    // the probe tables, or the session (review r16: the gate queries all
    // stage through the same scaffold; the profiler must too)
    try Scratch.dir("graft-probe-profile", bm25Table, dedupTable, phraseTable) { stage =>

    // --- BM25 inverted index (gate: q_bm25_indexed) -------------------
    profile("q_bm25_indexed",
      build = () => graft.text.InvertedIndex.build(
        Tables.documents(spark, sfDir), bm25Table, s"$stage/bm25"),
      probe = () => graft.text.InvertedIndex.probe(
        spark, bm25Table, s"$stage/bm25", Seq("join", "merge", "window")),
      tableFiles = () =>
        graft.text.InvertedIndex.postingsFileCount(spark, bm25Table))

    // --- bucketed shingle index (gate: q_incremental_dedup_bucketed) --
    // ONE constant feeds both the build and the coverage probe below, so
    // the batch_buckets_hit modulus can never drift from the layout it
    // measures (review r16)
    val dedupBuckets = 32
    profile("q_incremental_dedup_bucketed",
      build = () => graft.dedup.ShingleIndex.buildBucketed(
        Tables.documents(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(7)) =!= 0),
        dedupTable, s"$stage/shingles", buckets = dedupBuckets),
      probe = () => graft.dedup.ShingleIndex.admitBucketed(
        spark,
        Tables.documents(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(7)) === 0),
        dedupTable),
      tableFiles = () =>
        graft.lake.BucketedTable.fileCount(spark, dedupTable),
      // can bucket pruning help the admission join? Only if the batch's
      // shingles leave some index buckets untouched — measure it: the
      // distinct table-bucket ids (Murmur3 pmod, the bucketBy placement)
      // the batch's shingle tier hashes into. A real crawl batch covers
      // every bucket (thousands of distinct shingles over 32 buckets),
      // making the full-breadth index scan the genuine contract — the
      // number makes that claim measured instead of asserted.
      extra = () => {
        val hit = graft.dedup.ShingleIndex.tier(
            Tables.documents(spark, sfDir)
              .filter(pmod(col("doc_id"), lit(7)) === 0))
          .select(pmod(hash(col("shingle")), lit(dedupBuckets)).as("b"))
          .distinct().count()
        s""","batch_buckets_hit":$hit,"buckets":$dedupBuckets"""
      })

    // --- positional phrase tier (gate: q_phrase_indexed) --------------
    profile("q_phrase_indexed",
      build = () => graft.text.InvertedIndex.buildPositional(
        Tables.documents(spark, sfDir), phraseTable, s"$stage/positions"),
      probe = () => graft.text.InvertedIndex.probePhrase(
        spark, phraseTable, Seq("merge", "window")),
      tableFiles = () =>
        graft.lake.BucketedTable.fileCount(spark, phraseTable))

    // --- standing IVF-PQ (gate: q_ann_ivf_pq_indexed) -----------------
    profile("q_ann_ivf_pq_indexed",
      build = () => graft.sim.IvfPqIndex.build(
        Tables.embeddings(spark, sfDir), s"$stage/ivfpq"),
      probe = () => graft.sim.IvfPqIndex.probe(
        spark, s"$stage/ivfpq", Tables.embeddings(spark, sfDir),
        queryVecId = 0L, k = 10),
      tableFiles = () => {
        def rec(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(rec).sum
          else if (f.getName.endsWith(".parquet")) 1L else 0L
        rec(new java.io.File(s"$stage/ivfpq"))
      })

    val body = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"probe_profile","unit":"sec","reps":$reps,""" +
      s""""indexes":$body,"sf":"$sfDir"}""")

    } finally spark.stop()
  }
}
