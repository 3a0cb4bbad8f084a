package graft.ml

import graft.Tier.PinOps
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

/** ALS recommendation pipeline — SURVEY.md §2.9 (M1–M3) + R2/J2/A11.
  *
  * Mirrors the reference job (`run_alsrecs_job.py`): seeded 10% sample →
  * StringIndexer ×2 (string user/item keys → dense ints, frequency-ordered)
  * → ALS(maxIter 10, regParam 0.1, coldStartStrategy drop, fixed seed) →
  * recommendForUserSubset(n users, 5 items) → explode the struct-array →
  * pruned dim joins to restore original keys → re-nest with
  * collect_list. Floating-point training output is BLAS-sensitive, so
  * correctness is structural (tested invariants: 5 recs per user, all keys
  * resolve, score ordering), not value-equality — SURVEY.md §7.4.5.
  *
  * Scale: ALS is the one genuinely iterative-ML operator; spark.ml blocks
  * the factor matrices and checkpoints lineage. The dims built for join-back
  * are scanned with the recommended keys pushed down and joined on the
  * driver ([[graft.ops.Joins.enrichWithPrunedDim]]).
  */
object Recommend {

  /** Logged once per JVM, before the first ALS fit: which netlib BLAS
    * backend spark.ml resolved. VectorBLAS (jdk.incubator.vector loaded, as
    * build.sbt's fork options arrange) runs the normal-equation solves ~3x
    * faster than the scalar F2J/Java fallbacks, and the fallback is SILENT
    * — if a harness launches this code without the module flag the only
    * sign is a slow ALS, so the artifact logs must prove which solver ran
    * (VERDICT r4). */
  private lazy val logBlasOnce: Unit = {
    val backend =
      try dev.ludovic.netlib.blas.BLAS.getInstance.getClass.getSimpleName
      catch { case _: Throwable => "unavailable" }
    println(s"""{"graft_netlib_blas":"$backend"}""")
  }

  /** Rating triples from the fixtures: customer × part with summed quantity
    * as implicit rating (the reference's (uploader, video, rate) analogue),
    * keys stringified so the StringIndexer leg (M1) is exercised exactly as
    * in `run_alsrecs_job.py:60-66`. */
  def ratingTriples(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")), // key-only projection
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        col("o_custkey").cast("string").as("userKey"),
        col("l_partkey").cast("string").as("itemKey"))
      .agg(sum(col("l_quantity")).cast("double").as("rating"))

  /** Strip column metadata (the reference's serialization fix for
    * StringIndexer label arrays, `run_alsrecs_job.py:12-22` / R5). */
  def stripMetadata(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c, Metadata.empty)).toSeq: _*)

  /** StringIndexer's default `frequencyDesc` label order, derived from a
    * (label, count) list: count DESCENDING, ties broken by label ASC —
    * exactly `StringIndexer.getSortFunc(ascending = false)`. Pure so
    * RecommendSpec can pin the tie cases against an actual
    * `StringIndexer.fit` on the same data (the equivalence proof for the
    * single-pass indexer below). */
  def frequencyDescLabels(counts: Seq[(String, Long)]): Array[String] =
    counts.sortWith { case ((la, fa), (lb, fb)) =>
      if (fa == fb) la < lb else fa > fb
    }.map(_._1).toArray

  /** Both key dictionaries from ONE aggregate pass (r17, VERDICT r16 #6):
    * `StringIndexer.fit` ×2 ran two full count passes over the sampled
    * ratings (each a countByValue collected to the driver) for two
    * frequency-ordered label arrays. One explode + groupBy computes both
    * count maps in a single job — same driver-memory class as fit itself
    * (dictionaries are sample-cardinality either way) — and the labels
    * feed [[StringIndexerModel]]s directly, so the transform path (and
    * therefore every downstream userId/itemId assignment, the ALS input,
    * and the factor pipeline) is byte-identical to the double-fit's.
    * Equivalence is spec-pinned: derived labels == fit labels on the gate
    * corpus and on synthetic frequency ties. */
  private[ml] def fitIndexersSinglePass(
      sampled: DataFrame): (StringIndexerModel, StringIndexerModel) = {
    // keys cast to string, the cast StringIndexer.fit applies itself: a
    // numeric key column would otherwise reach getString below as a boxed
    // number
    val counts = sampled.select(explode(array(
        struct(lit(0).as("c"), col("userKey").cast("string").as("k")),
        struct(lit(1).as("c"), col("itemKey").cast("string").as("k")))).as("e"))
      .groupBy(col("e.c").as("c"), col("e.k").as("k"))
      .agg(count(lit(1)).as("n"))
      .collect()
    def labelsOf(tag: Int): Array[String] = frequencyDescLabels(
      counts.collect { case r if r.getInt(0) == tag =>
        (r.getString(1), r.getLong(2)) }.toSeq)
    val userModel = new StringIndexerModel(labelsOf(0))
      .setInputCol("userKey").setOutputCol("userId")
    val itemModel = new StringIndexerModel(labelsOf(1))
      .setInputCol("itemKey").setOutputCol("itemId")
    (userModel, itemModel)
  }

  /** M1–M3: full train + recommend flow. Returns the reference cache shape
    * `{userId, userKey, recommendations: array<string>}`
    * (`run_alsrecs_job.py:142-145`). */
  def recommendForUsers(spark: SparkSession, triples: DataFrame,
                        nUsers: Int = 500, nRecs: Int = 5,
                        sampleFraction: Double = 0.10, seed: Long = 42L): DataFrame =
    trainAndRecommend(spark, triples, nUsers, nRecs, sampleFraction, seed)._1

  /** The SPARK_GRAFT_ALS_BLOCKS measurement-only contract, ENFORCED
    * (ADVICE r15): blocking changes summation order in the least-squares
    * assembly, so factor values drift with the knob while the structural
    * audit still passes — a gated Verify/oracle run with the var set
    * would publish silently config-dependent outputs. Only a harness
    * that declares itself via the `graft.harness=bench` JVM property
    * ([[graft.Bench.main]]) may consume it; anywhere else the knob is a
    * loud failure, never a silent drift. A non-numeric value fails with
    * a named message instead of a bare NumberFormatException. Pure over
    * (env value, harness property) so RecommendSpec pins every branch. */
  def alsBlocksOverride(envValue: Option[String],
                        harness: Option[String]): Option[Int] =
    envValue.map { raw =>
      require(harness.contains("bench"),
        "SPARK_GRAFT_ALS_BLOCKS is a bench-only measurement knob: unset " +
          "it for Verify/oracle/gated runs (factor values are " +
          "blocking-sensitive; outputs would drift across configs)")
      try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_ALS_BLOCKS must be an integer block count, got '$raw'")
      }
    }

  /** Record `f`'s wall seconds as a named bench sub-stage when a stage
    * prefix is set — [[graft.Bench]] folds `<prefix>.<stage>` keys into
    * the query's `index_split` entry (VERDICT r13 #5: at sf1 the ALS gate
    * is the single most expensive query, and "it's linear in ratings" was
    * inference; now the dominant term — train vs recommend vs resolve, the
    * same phase boundary as `run_alsrecs_job.py:84-104` — is named in the
    * artifact). No-op without a prefix (Verify, production callers). */
  private def stageTimed[T](prefix: Option[String], stage: String)(f: => T): T =
    prefix match {
      case Some(p) => graft.Telemetry.timed(s"$p.$stage")(f)
      case None    => f
    }

  /** The pipeline body, also handing back the fitted model and the indexed
    * training frame so [[alsAudit]] can score the fit without training a
    * second model. */
  private def trainAndRecommend(
      spark: SparkSession, triples: DataFrame,
      nUsers: Int, nRecs: Int, sampleFraction: Double, seed: Long,
      stagePrefix: Option[String] = None)
      : (DataFrame, org.apache.spark.ml.recommendation.ALSModel, DataFrame) = {
    logBlasOnce
    // cache() pins the sampled rows: without it each downstream job recomputes
    // the sample against whatever partitioning AQE picked for that job, and a
    // per-partition-seeded sample over different partitions yields different
    // rows — the indexer then meets labels it never fit (S6-style pin,
    // `YoutubeNetworkAgg_Final.py:79`).
    val sampled = triples.sample(withReplacement = false, sampleFraction, seed)
      .na.drop(Seq("userKey", "itemKey", "rating"))
      .cache()

    // both dictionaries from one pass (see fitIndexersSinglePass) — the
    // transform path is the library StringIndexerModel, so indexed0 is
    // byte-identical to the former double-fit's output
    val (userIdx, itemIdx) = fitIndexersSinglePass(sampled)
    val indexed0 = itemIdx.transform(userIdx.transform(sampled))
    val indexed = stripMetadata(indexed0)
      .select(
        col("userId").cast("int").as("userId"),
        col("itemId").cast("int").as("itemId"),
        col("rating"))
      .cache()

    // stage boundaries mirror the reference job's phases
    // (`run_alsrecs_job.py:84-104`): fit() is eager; recommendForUserSubset
    // is lazy, so its stage pins the (tiny — nUsers·nRecs rows) result to
    // take an honest timing and spare the resolve leg a recompute
    //
    // Block-layout experiment knob (VERDICT r14 #8): the reference binds
    // the HYPERPARAMETERS (maxIter 10, regParam 0.1, seed), not how
    // spark.ml partitions the factor matrices — numBlocks defaults to 10,
    // which under-slices a 32-core box during the normal-equation sweeps.
    // SPARK_GRAFT_ALS_BLOCKS overrides numUser/numItemBlocks for
    // measurement passes ONLY; unset (every gated path) keeps the library
    // default, so oracle/audit outputs are byte-identical to r14. The
    // factor values change with the blocking (summation order in the
    // least-squares assembly), which is why the knob cannot default on:
    // the gate's structural audit would still pass, but cached recs would
    // drift across configs — the campaign records both timings instead.
    val alsBase = new ALS()
      .setMaxIter(10).setRegParam(0.1).setSeed(seed)
      .setUserCol("userId").setItemCol("itemId").setRatingCol("rating")
      .setColdStartStrategy("drop")
    val als = alsBlocksOverride(sys.env.get("SPARK_GRAFT_ALS_BLOCKS"),
        sys.props.get("graft.harness")) match {
      case Some(n) => alsBase.setNumBlocks(n)
      case None    => alsBase
    }
    val model = stageTimed(stagePrefix, "train")(als.fit(indexed))

    val users = indexed.select(col("userId")).distinct()
      .orderBy(col("userId")).limit(nUsers)
    val recs0 = model.recommendForUserSubset(users, nRecs)
    val recs = stagePrefix match {
      case Some(_) => stageTimed(stagePrefix, "recommend")(recs0.pinTier)
      case None    => recs0
    }

    // R2: explode struct-array; J2: dim join back to original keys via the
    // pruned-dim pattern (the key dictionaries are sample-cardinality —
    // unbounded at scale — while the recs side is nUsers·nRecs rows, so the
    // nUsers·nRecs keys prune the dim scans and the joins run on the driver
    // over those rows); A11: re-nest, list ordered by descending score.
    val itemDim = indexed0.select(col("itemId").cast("int").as("itemId"), col("itemKey"))
      .dropDuplicates("itemId")
    val userDim = indexed0.select(col("userId").cast("int").as("userId"), col("userKey"))
      .dropDuplicates("userId")
    val exploded = recs
      .select(col("userId"), explode(col("recommendations")).as("rec"))
      .select(col("userId"), col("rec.itemId").as("itemId"), col("rec.rating").as("score"))
    val out = graft.ops.Joins.enrichWithPrunedDim(
      graft.ops.Joins.enrichWithPrunedDim(exploded, itemDim, "itemId"),
      userDim, "userId")
      .groupBy(col("userId"))
      .agg(
        first(col("userKey")).as("userKey"), // 1:1 with userId — deterministic
        reverse(array_sort(collect_list(struct(col("score"), col("itemKey")))))
          .getField("itemKey").as("recommendations"))
    (out, model, indexed)
  }

  /** Driver-gated promise audit for the ALS pipeline — factor values are
    * solver/BLAS-specific, so the gate emits the pipeline's portable
    * contract instead of the raw recommendations (which stay pinned
    * structurally in RecommendSpec):
    *   - `n_users`: exactly the requested subset size (the sampled corpus
    *     carries ≥ nUsers distinct users at every gate scale, and
    *     recommendForUserSubset returns one row per requested user);
    *   - `recs_per_user_ok`: every user gets exactly nRecs non-null
    *     recommendations with a non-null userKey;
    *   - `ids_resolve_ok`: every recommended itemKey and every userKey
    *     round-trips to the original triple keys (the StringIndexer →
    *     dim-join-back path loses nothing);
    *   - `fit_rmse_ok`: the fitted model beats the global-mean predictor
    *     on its own training sample (train RMSE < rating stddev) — a
    *     solver that silently produced garbage factors fails this.
    * One training run serves both the audit and the output shape. */
  def alsAudit(spark: SparkSession, triples: DataFrame,
               nUsers: Int = 100, nRecs: Int = 5,
               sampleFraction: Double = 0.10, seed: Long = 42L,
               stagePrefix: Option[String] = None): DataFrame = {
    val (recs0, model, indexed) =
      trainAndRecommend(spark, triples, nUsers, nRecs, sampleFraction, seed,
        stagePrefix)
    // the pin executes the explode + pruned-dim joins + re-nest = the
    // RESOLVE phase (`run_alsrecs_job.py:104-145`)
    val recs = stageTimed(stagePrefix, "resolve")(recs0.pinTier)
    val structure = recs.agg(
      count(lit(1)).as("n_users"),
      (count(when(size(col("recommendations")) === nRecs &&
          !exists(col("recommendations"), _.isNull) &&
          col("userKey").isNotNull, 1)) === count(lit(1)))
        .as("recs_per_user_ok"))
    val itemKeys = triples.select(col("itemKey")).distinct()
    val userKeys = triples.select(col("userKey")).distinct()
    val badItems = recs.select(explode(col("recommendations")).as("itemKey"))
      .join(itemKeys, Seq("itemKey"), "left_anti")
      .agg(count(lit(1)).as("bad_items"))
    val badUsers = recs.select(col("userKey"))
      .join(userKeys, Seq("userKey"), "left_anti")
      .agg(count(lit(1)).as("bad_users"))
    val fit = model.transform(indexed).agg(
      sqrt(avg(pow(col("prediction") - col("rating"), 2))).as("rmse"),
      stddev_pop(col("rating")).as("rating_sd"))
    structure.crossJoin(badItems).crossJoin(badUsers).crossJoin(fit)
      .select(lit("als").as("method"), col("n_users"),
        col("recs_per_user_ok"),
        (col("bad_items") === 0 && col("bad_users") === 0).as("ids_resolve_ok"),
        (col("rmse") < col("rating_sd")).as("fit_rmse_ok"))
  }
}
