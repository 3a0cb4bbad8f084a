package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Scale-trend harness: replicate the sf tables at 1×/2×/4×/8× with shifted
  * keys (so cardinalities actually grow — new orders, parts, documents,
  * vectors, users), run the scale-path queries at each multiple through the
  * NORMAL `SparkEntry.queries` surface, and print seconds per multiple.
  *
  * The point is the TREND, not the absolute numbers: the banded/bucketed
  * operators (MinHash, SimHash, winnowing, LSH near-dup, co-occurrence,
  * PageRank, sessionization) must grow ~linearly in input size; anything
  * super-linear here would be quadratic at 100 TB. The exact all-pairs
  * baselines are intentionally excluded — they are documented small-sample
  * oracles.
  *
  * Usage: runMain graft.Stress [sfDir] [outBase] [multiples csv]
  */
object Stress {

  /** Union `mult` copies of each table with per-copy key shifts. Dimensions
    * and fact keys shift together so joins keep their selectivity; document
    * text gets a per-copy suffix (copies are near-dups of the original, so
    * the dedup funnels see planted clusters at every scale); embeddings get
    * one perturbed component (small angle change — near-dup, not identical). */
  def scaleTables(spark: SparkSession, inDir: String, outDir: String, mult: Int): Unit = {
    val OrderShift = 1000000000L
    val KeyShift = 10000000L
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => shift(df, i)).reduce(_ unionByName _)

    val li = spark.read.parquet(s"$inDir/lineitem.parquet")
    copies(li) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderShift))
        .withColumn("l_partkey", col("l_partkey") + lit(i * KeyShift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * KeyShift))
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val ord = spark.read.parquet(s"$inDir/orders.parquet")
    copies(ord) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderShift))
        .withColumn("o_custkey", col("o_custkey") + lit(i * KeyShift))
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val cust = spark.read.parquet(s"$inDir/customer.parquet")
    copies(cust) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * KeyShift))
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    val part = spark.read.parquet(s"$inDir/part.parquet")
    copies(part) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * KeyShift))
    }.write.mode("overwrite").parquet(s"$outDir/part.parquet")

    val supp = spark.read.parquet(s"$inDir/supplier.parquet")
    copies(supp) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * KeyShift))
    }.write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    val docs = spark.read.parquet(s"$inDir/documents.parquet")
    copies(docs) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * KeyShift))
        .withColumn("text",
          if (i == 0) col("text") else concat(col("text"), lit(s" stresscopy$i")))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$inDir/embeddings.parquet")
    copies(emb) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * KeyShift))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else concat(
            array((element_at(col("embedding"), 1) + lit(i * 0.05f)).cast("float")),
            slice(col("embedding"), 2, 10000)))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val ev = spark.read.parquet(s"$inDir/events.parquet")
    copies(ev) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * OrderShift))
        .withColumn("user_id", col("user_id") + lit(i * KeyShift))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // pass-through dims some queries expect to exist
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$inDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** The GENUINE-scale derivation (VERDICT r11 "next" #2): `mult` copies
    * with shifted keys like [[scaleTables]], but documents and embeddings
    * are MUTATED per replica instead of near-cloned, so the closure
    * families (dedup funnels, near-dup LSH, components) see natural
    * density at every scale rather than planted cross-replica clusters —
    * the ×8/×32 stress rows measured pair OUTPUT growth on planted
    * clones; a corpus scaled this way measures the OPERATOR.
    *
    *  - documents: replica i > 0 keeps each token with probability ~1/2
    *    (decision = parity of a position/doc/replica-salted xxhash64) and
    *    replaces the rest with replica-salted variants. A 3-shingle
    *    survives only if all 3 tokens survive (p ≈ 1/8 vs replica 0,
    *    ≈ 1/64 between two mutated replicas), so cross-replica Jaccard
    *    lands far below every dedup threshold; vocabulary grows with
    *    corpus size (the Heaps-law shape real corpora have).
    *  - embeddings: replica i > 0 gets fresh deterministic pseudo-random
    *    vectors (per-component salted-hash uniforms in [−1, 1]) — no
    *    planted high-cosine twins.
    *
    * Everything stays engine-derivable and deterministic (hash-based, no
    * RNG state), so a correctness spot-check can re-derive any replica. */
  def mutateTables(spark: SparkSession, inDir: String, outDir: String,
                   mult: Int): Unit = {
    val KeyShift = 10000000L
    // the TPC-H-shaped tables + events scale exactly as scaleTables does —
    // shifted keys grow every cardinality; join selectivity is preserved,
    // and no operator exploits cross-replica value duplication
    scaleTables(spark, inDir, outDir, mult)

    val docs = spark.read.parquet(s"$inDir/documents.parquet")
    (0 until mult).map { i =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(i * KeyShift))
      if (i == 0) d
      else d.withColumn("text",
        array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(0), greatest(size(split(col("text"), " ")) - 1, lit(0))),
            (tok, pos) => when(
              pmod(xxhash64(col("doc_id"), pos, lit(i)), lit(2)) === 0, tok)
              .otherwise(concat(tok, lit("~"),
                pmod(xxhash64(tok, lit(i)), lit(97)).cast("string")))),
          " "))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$inDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until mult).map { i =>
      val d = emb.withColumn("vec_id", col("vec_id") + lit(i * KeyShift))
      if (i == 0) d
      else d.withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)),
          k => ((pmod(xxhash64(col("vec_id"), k, lit(i)), lit(2000001))
            - lit(1000000)) / lit(1000000.0)).cast("float")))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Scale-path queries only: banded/bucketed/aggregating operators whose
    * 100 TB viability is the claim under test. */
  val StressQueries: Seq[String] = Seq(
    "q_category_stats", "q_top_customers", "q_star_join", "q_cooccur_edges",
    "q_degree_hist", "q_pagerank_parts", "q_exact_dedup", "q_minhash_neardups",
    "q_simhash_neardups", "q_winnow_neardups", "q_cosine_near_dups_lsh",
    "q_hourly_events", "q_user_sessions", "q_token_stats", "q_repetition",
    // round 3: temporal joins (union-merge / bucketed band), window
    // analytics, decontamination shingle join, set-op anti joins
    "q_asof_join", "q_band_join", "q_order_gaps", "q_decontaminate",
    "q_set_ops", "q_stratified_sample", "q_vocab", "q_vocab_approx", "q_tfidf",
    "q_winsorize", "q_quality_deciles", "q_dup_clusters", "q_domain_mix",
    "q_ngram_jaccard", "q_langid", "q_dup_clusters_minlabel",
    "q_surprisal", "q_chunks",
    // round 4: bloom-prefilter decontamination (map-side drop vs the exact
    // twin's full shingle shuffle), cross-document packing prefix sums
    "q_decontaminate_bloom", "q_pack_index", "q_containment",
    "q_shuffle_shards", "q_source_report",
    // round 4 continuation: cluster survivors (closure + one window),
    // snapshot-delta admission (batch-bounded shingle join). The SemDeDup
    // GATE is deliberately absent since r11: its fixed nlist makes the
    // within-cell compare n²/nlist BY CONTRACT (the static-oracle
    // configuration — measured 39.9x at x32); the production path is the
    // appended `semantic_dedup_scaled` line (nlist ≈ 4√n, the n^1.5
    // class)
    "q_dup_survivors", "q_incremental_dedup",
    // round 8: substring-span duplication (shingle-occurrence shuffle +
    // doc-window island merge — must trend with corpus, not pairs) and its
    // removal policy (adds the covered-position explode + rebuild agg)
    "q_dup_spans", "q_dup_trim",
    // round 8 continuation: pair-tier source attribution, corpus-mass
    // mix arithmetic, decile-binned PSI, bigram PMI, vocab OLS — all
    // aggregate/window shapes that must trend with corpus size
    "q_source_overlap", "q_temperature_mix", "q_source_drift",
    "q_collocations", "q_zipf_fit",
    // event-sequence reports: per-step user aggregates / cohort grids
    "q_funnel", "q_retention", "q_activity",
    // map-side shapes that must trend flat: hash split, centroid
    // aggregate, scalar-quantization coding
    "q_split_report", "q_label_centroids", "q_sq_codes",
    // round 9: the graph fixpoints/wedge joins (disjoint copies -> must
    // trend ~linear), the prefix-blocked edit tier (clone families share
    // buckets; the length band kills cross-copy DPs), and the new
    // aggregate/window text + event shapes
    "q_triangles", "q_hits_parts", "q_kcore", "q_ppr", "q_link_pred",
    "q_communities", "q_edit_neardups", "q_kn_bigrams", "q_doc_nll",
    "q_perplexity_buckets",
    "q_split_leakage", "q_emb_outliers",
    "q_bpe_merges", "q_bpe_train", "q_bpe_encode", "q_dsir", "q_dsir_resample", "q_bm25", "q_hybrid_rrf", "q_gopher_rules", "q_c4_filters", "q_char_stats", "q_source_terms", "q_transitions",
    "q_decayed_popularity", "q_hourly_anomalies",
    // round 9 continuation: the session window pass, the BFS frontier
    // iteration (disjoint copy subgraphs -> ~linear), the k-round centroid
    // loop (corpus × k map-side work), and the two linear text/dedup
    // aggregates
    "q_sessions", "q_bfs_dist", "q_kmeans", "q_novelty", "q_vocab_coverage",
    // lake-hygiene surfaces: the one-pass Expand profile, the two-level
    // prefix-sum PPS draw, the anti-join FK audit
    "q_profile_orders", "q_pps_sample", "q_fk_audit",
    // parity-half centroid drift: two label-sized aggregates, linear.
    // q_knn_labels is deliberately absent: its probe set is a fixed
    // fraction of the corpus, so the |Q|*|C| audit cost is quadratic in
    // corpus size BY CONTRACT (the guarded ann_brute class) - at scale the
    // probe is a fixed sample, not a fixed fraction
    "q_emb_drift",
    // reshape/JSON/graph-stat surfaces: single-aggregate shapes + the
    // moment-sum assortativity (degree joins over the strong graph)
    "q_pivot_daily", "q_unpivot_daily", "q_date_spine", "q_props_extract",
    "q_assortativity",
    // the weighted rank fixpoint (same cost class as q_pagerank_parts)
    "q_pagerank_weighted",
    // standing components index: pair tier + build + affected-only admit
    "q_components_admit",
    // single-aggregate privacy audit; the k-bounded typed-Aggregator top-k
    // (O(k) per-group shuffle — the claim under test)
    "q_kanonymity", "q_topk_agg",
    // round 12: the 61-bit sketch family (same banded shape, wider
    // arithmetic), the compacted index twins (compaction cost is ∝ index,
    // once per cycle), the warm-start pagerank admission, and the
    // bounded-state Count-Min heavy hitters (d·w cells whatever the
    // corpus — must trend with the token scan alone)
    "q_minhash_neardups_wide", "q_bm25_compacted",
    "q_incremental_dedup_compacted", "q_pagerank_incremental",
    "q_heavy_hitters_cms",
    // forensics/diversity one-pass aggregates
    "q_benford", "q_diversity", "q_vocab_gini",
    // round 11: the SCD2 full-outer merge (dimension and batch both scale
    // with the copies — the one-join claim must trend ~linear) and the
    // CCNet boilerplate line pass (line-df aggregate + guarded anti-join
    // + per-doc rebuild; planted footers recur in every copy, so the drop
    // set stays fixed while the corpus grows — the broadcast-smallness
    // claim under test)
    "q_scd2", "q_boilerplate",
    // the maintained-dimension twin: build + admit per run, both sides
    // scaling with the copies (the fixed-batch economics line below is
    // the ∝-batch claim; this is the end-to-end trend)
    "q_scd2_table",
    // r10-graduated winnow fingerprint tier (linear window-min pass),
    // stress-rowed alongside its near-dup consumer
    "q_winnow_fps",
    // round 11 continuation: the MMR pool selection (map-side scan +
    // TakeOrdered — the rerank itself is poolK-bounded by construction,
    // so the trend measures the candidate stage), the LPA-derived
    // modularity fold (same fixpoint class as q_communities plus two
    // label joins), the bucketed Heaps growth fit (two token aggregates,
    // window stays 64 rows at every multiple), and the mixture-plan
    // token scan (one aggregate + literal broadcast)
    "q_mmr", "q_modularity", "q_heaps", "q_mixture_plan",
    // round 11 session 2: the NB classifier (one token-count shuffle +
    // a vocab-capped broadcast model — the V·C bound is the claim), the
    // PQ codebook/encode passes (kMeans cost class: per-round broadcast +
    // two shuffles, linear in vectors), the ADC probe (map-side LUT scan
    // + TakeOrdered), and the two-pass RM3 expansion (each pass a
    // term-pruned scan; the pool analysis is fbDocs-bounded)
    "q_nb_classify", "q_pq_codes", "q_ann_pq", "q_bm25_rm3",
    // IVF-PQ end-to-end (coarse k-means + residual PQ train + probe):
    // the kMeans cost class twice over, linear in vectors per round
    "q_ann_ivf_pq",
    // cluster-safe split: the q_dup_clusters closure + one map-side md5 —
    // must track the q_dup_clusters trend
    "q_cluster_split",
    // dedup-aware mixture (one fingerprint shuffle + two ledgers) and the
    // per-source fertility fold over the bpe encode chain. q_mrl_audit is
    // deliberately absent: its probe set is a fixed FRACTION of the
    // corpus, so |probes|·|corpus| is quadratic BY CONTRACT — the
    // documented q_knn_labels exclusion class (at scale the probe is a
    // fixed sample)
    "q_mixture_dedup", "q_bpe_fertility",
    // BPR negatives (|C|·k·oversample candidates — linear in customers,
    // never |C|·|P|) and the one-pass isotropy aggregate
    "q_bpr_negatives", "q_isotropy",
    // round 13: the rendezvous-sharded tier reshard (tokenize + write +
    // B metadata renames — must trend with the corpus tokenization) and
    // the grown IVF-PQ (seed-train + frozen-quantizer admit — the kMeans
    // cost class; the streaming twin is excluded: its compute IS this
    // gate plus fixed checkpointed-micro-batch machinery)
    "q_rendezvous_tier", "q_ann_ivf_pq_grown",
    // both pools TakeOrdered over pruned/map-side scans; anti join of
    // two <=poolK pools
    "q_hard_negatives",
    // positional-posting intersection: term-pruned scan + one equi join
    // per phrase term + TakeOrdered
    "q_phrase_search",
    // the classifier scoring pass + a doc-partitioned top-2 window + a
    // C-partitioned rank window — linear in the test split (calibration
    // adds the test-split-sized ntile, the q_quality_deciles class)
    "q_nb_auc", "q_nb_calibration")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outBase = if (args.length > 1) args(1) else "/tmp/graft_stress"
    val multiples = (if (args.length > 2) args(2) else "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    // optional 4th arg: comma-separated query subset (local iteration aid);
    // `want` also gates the appended non-SparkEntry families (index
    // build/admit, tight LSH, shuffle branches) so a targeted deep-multiple
    // run (e.g. x32 on the five scale-path families) doesn't pay for all
    val subset: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    def want(name: String): Boolean = subset.forall(_.contains(name))
    val selectedQueries = StressQueries.filter(want)
    val spark = GraftSession.local(32, appName = "graft-stress")
    // warmup (see Bench)
    spark.range(1000000).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()

    // restored after the loop: anything running later in this session must
    // not inherit the deepest multiple's partition count
    val priorShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val rows = try multiples.map { m =>
      val dir = s"$outBase/x$m"
      // partitions ∝ data — the operator a 1000-executor cluster applies as
      // a matter of course. With the fan-out pinned at `cores` while the
      // corpus grows m×, per-partition hash state grows m× too and a deep
      // multiple measures allocator thrash, not the algorithm (observed at
      // x32: 8g OOM in the components fixpoint, then a TaskMemoryManager
      // retry storm at 91% sys time). AQE still coalesces small stages
      // back down, so the x1 numbers are unaffected.
      spark.conf.set("spark.sql.shuffle.partitions", (32 * m).toString)
      scaleTables(spark, sfDir, dir, m)
      // a failing query reports negative time (as in Bench) instead of
      // aborting the run and discarding every multiple already measured
      def timed(name: String)(body: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        val ok =
          try { body; true }
          catch { case NonFatal(e) =>
            System.err.println(s"[stress] $name failed at x$m: ${e.getClass.getSimpleName}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // same inter-query state release as Bench: pinned checkpoint blocks
        // must not accumulate across the suite (see Bench on why)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        name -> (if (ok) dt else -dt)
      }
      val times = (selectedQueries.map { q =>
        timed(q)(SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save())
      } ++
        // the LSH near-dup at its INTENDED tight threshold (the wired 0.35
        // is the loose fixture threshold, whose candidate set is ~all-pairs
        // by construction — see Similarity.cosineNearDupsLSH scaladoc); the
        // scaled copies plant real cos≥0.99 near-dups for this to find
        (if (want("lsh_neardups_tight_0.9")) Seq(
          timed("lsh_neardups_tight_0.9")(
            graft.sim.Similarity.cosineNearDupsLSH(
                graft.model.Tables.embeddings(spark, dir), threshold = 0.9)
              .write.format("noop").mode("overwrite").save())) else Nil) ++
        // hot-shingle skew probe: every document gets the same boilerplate
        // footer appended (df = |corpus| ≫ the cap), the regime where the
        // uncapped exact pair join degenerates to one quadratic key. The
        // df cap must keep this family trending like the plain
        // q_ngram_jaccard line; before the cap existed this superlinears.
        (if (want("ngram_jaccard_hotkey")) Seq(
          timed("ngram_jaccard_hotkey") {
            val boiler = graft.model.Tables.documents(spark, dir)
              .withColumn("text", concat(col("text"),
                lit(" subscribe to our newsletter today for updates")))
            graft.dedup.Dedup.ngramJaccardPairs(boiler)
              .write.format("noop").mode("overwrite").save()
          }) else Nil) ++
        // the fixpoint broadcast budget CROSSED (maxBroadcastBytes=0):
        // the per-round joins take the shuffle branch — the plan shape a
        // billion-vertex graph gets — so the fallback is exercised and
        // trend-checked every run, not dead code behind a threshold no
        // fixture can reach (each run logs {"graft_fixpoint":…,
        // "broadcast":false} as proof)
        (if (want("pagerank_shuffle_branch")) Seq(
          timed("pagerank_shuffle_branch") {
            spark.conf.set(graft.graph.Fixpoint.ConfKey, "0")
            try SparkEntry.queries("q_pagerank_parts")(spark, dir)
              .write.format("noop").mode("overwrite").save()
            finally spark.conf.unset(graft.graph.Fixpoint.ConfKey)
          }) else Nil) ++
        (if (want("dup_clusters_shuffle_branch")) Seq(
          timed("dup_clusters_shuffle_branch") {
            spark.conf.set(graft.graph.Fixpoint.ConfKey, "0")
            try SparkEntry.queries("q_dup_clusters")(spark, dir)
              .write.format("noop").mode("overwrite").save()
            finally spark.conf.unset(graft.graph.Fixpoint.ConfKey)
          }) else Nil) ++
        // corpus-scale SemDeDup (nlist ≈ 4√n — the FAISS occupancy rule):
        // the n^1.5 class the production path actually runs, vs the
        // fixed-nlist gate whose quadratic boundary is documented at its
        // StressQueries exclusion above
        (if (want("semantic_dedup_scaled")) Seq(
          timed("semantic_dedup_scaled")(
            graft.sim.Similarity.semanticDedupScaled(
                graft.model.Tables.embeddings(spark, dir), threshold = 0.35)
              .write.format("noop").mode("overwrite").save())) else Nil) ++
        // the boilerplate drop-set guard CROSSED: the removal takes the
        // shuffled LEFT ANTI — the plan an unbounded drop set would need —
        // so the fallback branch is trend-checked, not dead code
        (if (want("boilerplate_shuffle_branch")) Seq(
          timed("boilerplate_shuffle_branch") {
            spark.conf.set(graft.graph.Fixpoint.ConfKey, "0")
            try SparkEntry.queries("q_boilerplate")(spark, dir)
              .write.format("noop").mode("overwrite").save()
            finally spark.conf.unset(graft.graph.Fixpoint.ConfKey)
          }) else Nil)) ++ {
          // standing-index economics (ShingleIndex scaladoc's scale claim):
          // the BUILD is ∝ corpus by design — measured as its own line so
          // the contrast is explicit — while ADMISSION of a FIXED 1× batch
          // against the growing x$m index must grow only at pruned-index-
          // scan rate (the batch side broadcasts; the corpus is never
          // re-tokenized). Stress copies are planted near-dups of the
          // originals, so the batch's candidate matches also grow ~m× —
          // admission staying well under the build's ratio even so is the
          // "∝ batch, not corpus" evidence.
          Scratch.dir("graft-stress-shindex") { stage =>
            val corpus = graft.model.Tables.documents(spark, dir)
              .filter(pmod(col("doc_id"), lit(7)) =!= 0)
            val fixedBatch = graft.model.Tables.documents(spark, sfDir)
              .filter(pmod(col("doc_id"), lit(7)) === 0)
            val embCorpus = graft.model.Tables.embeddings(spark, dir)
              .filter(pmod(col("vec_id"), lit(7)) =!= 0)
            val embBatch = graft.model.Tables.embeddings(spark, sfDir)
              .filter(pmod(col("vec_id"), lit(7)) === 0)
            (if (want("shingle_index_build")) Seq(
              timed("shingle_index_build")(
                graft.dedup.ShingleIndex.build(corpus, s"$stage/index")),
              timed("shingle_index_admit_fixed_batch")(
                graft.dedup.ShingleIndex.admit(spark, fixedBatch, s"$stage/index")
                  .write.format("noop").mode("overwrite").save())) else Nil) ++
            // same economics for the ANN surface: quantizer trained on
            // the x$m corpus, a FIXED 1× batch admitted by broadcast-
            // model assignment — no retrain, cost ∝ batch
            (if (want("ivf_index_build")) Seq(
              timed("ivf_index_build")(
                graft.sim.IvfIndex.build(spark, embCorpus, s"$stage/ivf")),
              timed("ivf_index_admit_fixed_batch") {
                graft.sim.IvfIndex.admit(spark, embBatch, s"$stage/ivf"); ()
              }) else Nil) ++
            // same economics for the standing IVF-PQ index: build ∝
            // corpus (two quantizer trainings + the coded tier), probe ∝
            // the nprobe cells' partitions (pruned scan), admission of a
            // FIXED 1× batch with frozen quantizers ∝ batch
            (if (want("ivfpq_index_build")) Seq(
              timed("ivfpq_index_build")(
                graft.sim.IvfPqIndex.build(embCorpus, s"$stage/ivfpq")),
              timed("ivfpq_index_probe")(
                graft.sim.IvfPqIndex.probe(spark, s"$stage/ivfpq",
                    embCorpus, queryVecId = 1L)
                  .write.format("noop").mode("overwrite").save()),
              timed("ivfpq_index_admit_fixed_batch") {
                graft.sim.IvfPqIndex.admit(spark, embBatch, s"$stage/ivfpq"); ()
              }) else Nil) ++
            // same economics for the components index: labels solved over
            // the x$m corpus's pair tier, a FIXED 1× batch's pairs admitted
            // via the affected-components-only re-solve (pruned scans of
            // the standing labels/edges; the solve is batch-bounded)
            (if (want("cc_index_build")) Seq(
              timed("cc_index_build")(
                graft.graph.ComponentsIndex.build(
                  graft.dedup.Dedup.ngramJaccardPairs(corpus)
                    .select(col("doc_a"), col("doc_b")), s"$stage/cc")),
              timed("cc_index_admit_fixed_batch") {
                graft.graph.ComponentsIndex.admit(spark,
                  graft.dedup.Dedup.ngramJaccardPairs(fixedBatch)
                    .select(col("doc_a"), col("doc_b")), s"$stage/cc"); ()
              }) else Nil) ++
            // same economics for the standing inverted index: postings
            // built over the x$m corpus, then (a) a FIXED 3-term probe —
            // cost ∝ the query terms' posting lists (grows with corpus
            // df, must stay far under the build's ratio) — and (b) a
            // FIXED 1× batch admitted (anti-join on the index's doc set
            // + appended bucket files, ∝ batch)
            (if (want("inverted_index_build")) Seq(
              timed("inverted_index_build")(
                graft.text.InvertedIndex.build(
                  corpus, "graft_stress_invidx", s"$stage/invidx")),
              timed("inverted_index_probe")(
                graft.text.InvertedIndex.probe(spark, "graft_stress_invidx",
                    s"$stage/invidx", Seq("join", "merge", "window"))
                  .write.format("noop").mode("overwrite").save()),
              timed("inverted_index_admit_fixed_batch") {
                graft.text.InvertedIndex.admit(spark, fixedBatch,
                  "graft_stress_invidx", s"$stage/invidx"); ()
              },
              // the positional tier: build ∝ corpus, a FIXED 2-term
              // phrase probe ∝ its terms' posting lists
              timed("positional_index_build")(
                graft.text.InvertedIndex.buildPositional(
                  corpus, "graft_stress_posidx", s"$stage/posidx")),
              timed("positional_index_phrase_probe")(
                graft.text.InvertedIndex.probePhrase(spark,
                    "graft_stress_posidx", Seq("merge", "window"))
                  .write.format("noop").mode("overwrite").save())) else Nil) ++
            // same economics for the maintained SCD2 dimension: the table
            // built over the x$m customer dim (nBuckets ∝ data — the
            // bounded-bucket-size operator), then a FIXED 1× change batch
            // admitted. Admit rewrites only the touched buckets, so its
            // cost must stay ∝ batch while build grows ∝ dimension.
            (if (want("scd_table_build")) Seq(
              timed("scd_table_build") {
                val dimAll = graft.model.Tables.customer(spark, dir).select(
                  col("c_custkey").as("cust_key"),
                  col("c_mktsegment").as("segment"),
                  col("c_nationkey").cast("bigint").as("nation"),
                  lit(1L).as("version_from"),
                  lit(graft.lake.Scd.OpenVersion).as("version_to"),
                  lit(true).as("is_current"))
                graft.lake.ScdTable.build(dimAll, s"$stage/scd", "cust_key",
                  Seq("segment", "nation"), nBuckets = 16 * m)
              },
              timed("scd_table_admit_fixed_batch") {
                // a genuinely SMALL fixed batch (~0.15% of keys): the
                // ∝-batch claim is about touched buckets ≪ nBuckets — a
                // batch with more keys than buckets touches every bucket
                // and measures a full-slice rewrite instead (observed:
                // %7 gave 2.33 at x8; %701 isolates the claim)
                val batch = graft.model.Tables.customer(spark, sfDir)
                  .filter(pmod(col("c_custkey"), lit(701)) === 0)
                  .select(col("c_custkey").as("cust_key"),
                    lit("MOVED").as("segment"),
                    col("c_nationkey").cast("bigint").as("nation"))
                graft.lake.ScdTable.admit(spark, batch, s"$stage/scd"); ()
              }) else Nil)
          }
        }
      m -> times
    } finally spark.conf.set("spark.sql.shuffle.partitions", priorShufflePartitions)
    // one JSON line per query: seconds at each multiple + the 8x/1x ratio
    val m0 = multiples.head
    // locale-proof 2-decimal rendering: f"%.2f" follows the JVM default
    // locale (comma decimals on e.g. de_DE would corrupt the JSON)
    def r2(x: Double): Double = math.round(x * 100.0) / 100.0
    rows.head._2.map(_._1).foreach { q =>
      val series = rows.map { case (m, ts) => m -> ts.find(_._1 == q).get._2 }
      val ratio = series.last._2 / series.head._2
      val pts = series.map { case (m, s) => s""""x$m":${r2(s)}""" }.mkString(",")
      println(s"""{"query":${Json.quote(q)},$pts,"ratio_x${series.last._1}_vs_x$m0":${r2(ratio)}}""")
    }
    spark.stop()
  }
}

/** Derivation entry for the genuine-scale corpus:
  * `runMain graft.ScaleCorpus <inDir> <outDir> <mult>` — e.g. mult=10
  * over sf0.1 yields the sf1-equivalent tables [[Stress.mutateTables]]
  * documents (mutated replicas, natural dup density), which
  * `graft.Bench` then benches via SPARK_GRAFT_SF_DIR. */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, mult) = args
    val spark = GraftSession.local(32, appName = "graft-scale-corpus")
    Stress.mutateTables(spark, inDir, outDir, mult.toInt)
    spark.stop()
  }
}
