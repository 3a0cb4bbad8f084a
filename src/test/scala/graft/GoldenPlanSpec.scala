package graft

import org.apache.spark.sql.execution.FormattedMode

/** Golden-plan snapshots for the expensive queries (VERDICT r8 "next" #5).
  *
  * PlanHygieneSpec asserts cross-cutting properties (pushdown, no
  * cartesians, dedicated join types); this spec pins the PER-QUERY physical
  * shape of the queries that dominate the bench, so a plan regression —
  * a lost map-side combine, a top-K that falls back to a global sort, a
  * one-row broadcast that becomes a shuffle — fails `sbt test` before it
  * costs bench wall-time.
  *
  * Pins are chosen to be SCALE-INDEPENDENT: partial aggregation modes,
  * TakeOrderedAndProject / WindowGroupLimit, semi/anti join types, the
  * bounded-side broadcast shapes, and shuffle-count ceilings. Join
  * strategies that legitimately flip with input size (broadcast vs
  * sort-merge on two corpus-sized sides) are NOT pinned.
  *
  * Excluded: queries whose construction runs driver work (PageRank/ALS/IVF
  * training, k-means, star-contraction loops, streaming gates) — their
  * shape is asserted in their own specs — and the guarded quadratic
  * baseline q_ann_brute, a documented small-sample oracle.
  * q_cosine_near_dups is pinned although its construction runs its pair
  * kernel: at fixture scale that is one small collect and one pair job.
  * q_minhash_neardups(_wide) likewise: construction runs the MinHash
  * kernel's pin, one doc_id shuffle and one pass.
  */
class GoldenPlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  /** Unique operator-node count in a formatted plan (each node prints once
    * in the tree and once in the details section under the same id). */
  private def opCount(p: String, op: String): Int =
    s"""\\((\\d+)\\) $op""".r.findAllMatchIn(p).map(_.group(1)).toSet.size

  private case class Golden(
      required: Seq[String] = Nil,
      forbidden: Seq[String] = Nil,
      maxExchanges: Option[Int] = None)

  /** The pins. `required` / `forbidden` are literal fragments of the
    * formatted plan; `maxExchanges` bounds the number of distinct shuffle
    * nodes (data movement is the cost model at 100 TB). */
  private val golden: Map[String, Golden] = Map(
    // exact shingle pair tiers: map-side-combined df counts; the pair join
    // is an equi join on the shingle — never a nested loop or cartesian
    "q_ngram_jaccard" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    "q_containment" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // the pair-count aggregate runs at pin time since r16 (the counts
    // table pins so the share denominator stops re-running the shingle
    // self-join — the simhash pin precedent below); the post-pin plan
    // must still two-phase the total (partial_sum) and never
    // cross-product anything corpus-sized
    "q_source_overlap" -> Golden(
      required = Seq("partial_sum"),
      forbidden = Seq("CartesianProduct")),
    // minhash (r10, graduated to a full pair-set gate): the signatures and
    // shingle sets come from the pinned per-document kernel (an ExistingRDD
    // scan), band candidates via an EQUI join on the (band, band_key-array)
    // key — never a nested loop. A partial_min here would mean the
    // signature aggregate came back into the plan.
    "q_minhash_neardups" -> Golden(
      required = Seq("Scan ExistingRDD"),
      forbidden = Seq("partial_min", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // the wide (61-bit) family shares the exact pipeline shape — only the
    // hash arithmetic differs, so the same pins must hold
    "q_minhash_neardups_wide" -> Golden(
      required = Seq("Scan ExistingRDD"),
      forbidden = Seq("partial_min", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // Count-Min heavy hitters: sketch cells map-side combine into a
    // bounded d·w aggregate; the estimate side joins ≤20 keys — nothing
    // corpus-sized may cross a nested loop
    "q_heavy_hitters_cms" -> Golden(
      required = Seq("partial_count", "partial_min"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // simhash (r10, graduated): the 64 parity-vote sums run at pin time
    // (the sketch tier is a lineage-truncating pinTier, so they cannot
    // appear in this plan); what must hold here is the post-pin shape —
    // map-combined band-df counts, band explode, equi joins only
    "q_simhash_neardups" -> Golden(
      required = Seq("partial_count", "Generate"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // winnowing (r10, graduated): the w-frame min is a Window over the
    // poly-hashed shingle tier; shared-fp pair counts combine map-side
    "q_winnow_neardups" -> Golden(
      required = Seq("partial_count", "Window"),
      forbidden = Seq("CartesianProduct")),
    // co-occurrence edges now PROBE the standing edge tier (EdgeTier): a
    // columnar parquet scan + output sort. The derivation's aggregate must
    // NOT reappear in the probe plan — partial_count here would mean the
    // query re-derived the graph it was supposed to read from the tier.
    "q_cooccur_edges" -> Golden(
      required = Seq("Scan parquet"),
      forbidden = Seq("partial_count", "Join", "CartesianProduct"),
      maxExchanges = Some(1)),
    // global stats: ONE aggregation over one scan — any Join here means the
    // query picked up an accidental self-join
    "q_global_stats" -> Golden(
      required = Seq("ObjectHashAggregate", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(1)),
    // vocab sketch twin: top-k must be TakeOrderedAndProject, not sort+limit
    "q_vocab_approx" -> Golden(
      required = Seq("partial_count", "TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct")),
    // tf-idf: per-doc top terms via rank pushdown (WindowGroupLimit), df
    // counts combined map-side
    "q_tfidf" -> Golden(
      required = Seq("partial_count", "WindowGroupLimit"),
      forbidden = Seq("CartesianProduct")),
    // PMI collocations: two hash aggs + one-row total broadcasts + top-K
    "q_collocations" -> Golden(
      required = Seq("partial_count", "partial_sum", "TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct")),
    // funnel: per-step user-keyed aggregate — the design point is NO event
    // self-join (the one-row step totals arrive by broadcast nested loop)
    "q_funnel" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // retention cohorts: user-keyed equi joins only
    "q_retention" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // DAU/WAU: the trailing-window join runs against the BROADCAST day
    // grid (bounded by #days) — that nested loop is the design; what must
    // never appear is a cartesian of two user-scale sides
    "q_activity" -> Golden(
      required = Seq("partial_count", "BroadcastNestedLoopJoin"),
      forbidden = Seq("CartesianProduct")),
    // exact dedup: one fingerprint aggregation, no joins at all
    "q_exact_dedup" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(2)),
    // temperature mix: corpus stays in place; the α-weights arrive as two
    // one-row broadcasts (nested loop on a trivially-true condition)
    "q_temperature_mix" -> Golden(
      required = Seq("partial_sum", "BroadcastNestedLoopJoin"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // PSI drift: decile cuts broadcast (one row), per-(source,bucket)
    // counts combined map-side
    "q_source_drift" -> Golden(
      required = Seq("partial_count", "BroadcastNestedLoopJoin"),
      forbidden = Seq("CartesianProduct")),
    // report top-Ks: TakeOrderedAndProject, single data shuffle, no joins
    "q_top_customers" -> Golden(
      required = Seq("partial_sum", "TakeOrderedAndProject"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(1)),
    "q_topk_orders" -> Golden(
      required = Seq("TakeOrderedAndProject"),
      forbidden = Seq("Join", "CartesianProduct", "Exchange")),
    "q_top_parts_by_qty" -> Golden(
      required = Seq("partial_sum", "TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct")),
    // flagship multi-agg: one partial+final pair over one scan; the only
    // exchanges are the agg shuffle and the report ordering
    "q_category_stats" -> Golden(
      required = Seq("partial_sum", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(2)),
    // reservoir: the rank filter must push into a WindowGroupLimit so map
    // tasks pre-prune to local top-k before the stratum shuffle
    "q_reservoir_sample" -> Golden(
      required = Seq("WindowGroupLimit"),
      forbidden = Seq("Join", "CartesianProduct")),
    // nucleus selection: two window passes over one shuffle, no joins
    "q_nucleus_select" -> Golden(
      required = Seq("Window"),
      forbidden = Seq("Join", "CartesianProduct")),
    // attribution: ONE window pass over the user timeline — an event
    // self-join here would be the classic quadratic mistake
    "q_attribution" -> Golden(
      required = Seq("Window", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct")),
    // realized temperature mix: rate table broadcasts back; the corpus
    // must never shuffle against it
    "q_temperature_sample" -> Golden(
      required = Seq("BroadcastHashJoin", "partial_count"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // serve page: offset+limit over a sort stays TakeOrderedAndProject on
    // a pushed scan — no global sort, no shuffle at all (the redundant
    // inner ordering is optimizer-eliminated)
    "q_api_page" -> Golden(
      required = Seq("TakeOrderedAndProject", "PushedFilters: [Is"),
      forbidden = Seq("Join", "CartesianProduct", "Exchange")),
    // serve counts: ONE aggregate over one pruned scan
    "q_api_counts" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(1)),
    // ---- round 9 ----
    // Gopher battery: a pure map-side projection — the ONLY exchange is
    // the report ordering; any aggregate or join here is a regression
    "q_gopher_rules" -> Golden(
      forbidden = Seq("Join", "CartesianProduct", "HashAggregate"),
      maxExchanges = Some(1)),
    // KN bigrams: continuation tables broadcast; one-row type total rides
    // a nested loop; top-K stays TakeOrdered
    // (the lead window lives inside the pinned pair tier — the returned
    // plan reads the ExistingRDD scan, so Window is not pinnable here)
    "q_kn_bigrams" -> Golden(
      required = Seq("partial_count", "TakeOrderedAndProject", "Scan ExistingRDD"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // BPE merges: two agg pairs (vocab, pairs) + top-K, never a join
    "q_bpe_merges" -> Golden(
      required = Seq("partial_sum", "partial_count", "TakeOrderedAndProject"),
      forbidden = Seq("Join", "CartesianProduct")),
    // chi-square terms: the per-source top-k must push into
    // WindowGroupLimit; dims broadcast
    "q_source_terms" -> Golden(
      required = Seq("partial_count", "WindowGroupLimit", "BroadcastHashJoin"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // transitions: ONE window pass over user timelines + |types|²-sized
    // aggregate with broadcast row totals — an event self-join here would
    // be the quadratic mistake
    "q_transitions" -> Golden(
      required = Seq("Window", "partial_count", "BroadcastHashJoin"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // decayed popularity: max-ts arrives as a one-row broadcast; shuffles
    // are exactly (max agg, type agg, ordering)
    "q_decayed_popularity" -> Golden(
      required = Seq("partial_sum", "BroadcastNestedLoopJoin"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"),
      maxExchanges = Some(3)),
    // hourly anomalies: hour aggregate -> per-type window -> ordering;
    // nothing event-cardinality after the first aggregate, no joins
    "q_hourly_anomalies" -> Golden(
      required = Seq("Window", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(3)),
    // edit-distance tier: the plan DOWNSTREAM of the pinned candidate
    // tier — the Levenshtein projection must sit on the ExistingRDD scan
    // with NO join below it (a join reappearing here means the optimizer
    // pulled the DP back into the candidate join, the exact regression
    // the pin exists to prevent)
    // exact cosine near-dups: the pair kernel scores the triangle in its
    // own Spark job and pins only the candidates; the returned plan
    // rounds, filters and orders that ExistingRDD scan with one exchange
    // (the ordering). A nested loop or cartesian here means the n²/2
    // pairs went back through a join.
    "q_cosine_near_dups" -> Golden(
      required = Seq("Scan ExistingRDD"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      maxExchanges = Some(1)),
    "q_edit_neardups" -> Golden(
      required = Seq("levenshtein", "Scan ExistingRDD"),
      forbidden = Seq("Join", "CartesianProduct")),
    // triangles: wedge generation + closure check are broadcast equi
    // joins at this scale; corner credit is an exploded map-side-combined
    // aggregate
    "q_triangles" -> Golden(
      required = Seq("BroadcastHashJoin", "LeftSemi", "partial_count"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // centroid outliers: the (labels × dim) centroid side must broadcast;
    // the label stats are windows, never a second corpus join
    "q_emb_outliers" -> Golden(
      required = Seq("BroadcastHashJoin", "Window"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // split leakage: pair-tier attribution via equi joins + one tiny agg
    "q_split_leakage" -> Golden(
      required = Seq("partial_count"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // sessionization: one user-keyed window shuffle; the per-session
    // aggregate must ride the window's partitioning (its clustering keys
    // are a superset), so the only other exchange is the output sort
    "q_sessions" -> Golden(
      required = Seq("Window", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct"),
      maxExchanges = Some(2)),
    // C4 cascade: codegen'd line explode + map-combined per-doc counts;
    // page booleans fold through the same aggregate — no joins at all
    "q_c4_filters" -> Golden(
      required = Seq("Generate", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct")),
    // char screen: char explode + two map-combined aggregates + the
    // doc-keyed zero-fill join — equi only, no corpus self-join
    "q_char_stats" -> Golden(
      required = Seq("Generate", "partial_count"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // novelty: linear shingle-tier shape — map-combined min aggregate,
    // equi join back on the shingle, never a pair-tier nested loop
    "q_novelty" -> Golden(
      required = Seq("partial_min", "partial_count"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // coverage curve: the ks table is the INTENDED bounded broadcast side
    // of the rank<=k band join, and the per-k coverage is a map-combined
    // max over the pinned vocab tier (the ranking window runs inside the
    // pin, so the visible plan starts at the tier scan)
    "q_vocab_coverage" -> Golden(
      required = Seq("BroadcastNestedLoopJoin", "partial_max",
        "Scan ExistingRDD"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // column profile: ONE scan fanned through Expand into the multi-column
    // distinct aggregate; a Join here means the per-column stats stopped
    // sharing the single pass
    "q_profile_orders" -> Golden(
      required = Seq("Expand", "partial_count"),
      forbidden = Seq("Join", "CartesianProduct")),
    // PPS draw: per-bucket windows over the pinned weight tier; the
    // bucket-offset table broadcasts back (never a corpus-side shuffle
    // join); selection is a filter, not a join
    "q_pps_sample" -> Golden(
      required = Seq("Window", "BroadcastHashJoin", "Scan ExistingRDD"),
      forbidden = Seq("SortMergeJoin", "CartesianProduct")),
    // FK audit: orphanhood is LEFT ANTI; the two one-row aggregate sides
    // meet in an intended bounded nested-loop cross
    "q_fk_audit" -> Golden(
      required = Seq("LeftAnti"),
      forbidden = Seq("SortMergeJoin")),
    // 1-NN audit: the guarded probe tier broadcasts into the intended
    // theta nested-loop scan of the corpus; the argmax is a map-combined
    // max(struct) aggregate, never a corpus-side shuffle join
    "q_knn_labels" -> Golden(
      required = Seq("BroadcastNestedLoopJoin", "partial_max"),
      forbidden = Seq("SortMergeJoin", "CartesianProduct")),
    // ---- round 11 ----
    // boilerplate removal: the line-df aggregate map-combines on the
    // fingerprint (partial_count over the pinned line tier); the removal
    // itself is a broadcast LEFT ANTI — a map-side drop with no
    // corpus-side shuffle before the per-doc rebuild (the shuffled
    // fallback is guard-gated; DedupSpec proves it identical)
    "q_boilerplate" -> Golden(
      required = Seq("partial_count", "BroadcastHashJoin", "LeftAnti"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // SCD2 merge: ONE full-outer join on the key, legs emitted via the
    // codegen'd array-explode (Generate) — no second diff pass; the only
    // rangepartitioning is this gate's own report ordering (ScdSpec pins
    // the operator itself sort-free)
    "q_scd2" -> Golden(
      required = Seq("FullOuter", "Generate"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // as-of slice: the same one-join merge with the time-travel filter —
    // still no second pass, no cartesian
    "q_scd2_asof" -> Golden(
      required = Seq("FullOuter", "Generate"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // BPE encode: the replace chain is a pure map-side scan — any join
    // here means the encode regressed to the vocab-shuffle form; the
    // per-doc aggregate must map-combine
    "q_bpe_encode" -> Golden(
      required = Seq("partial_count", "Generate"),
      forbidden = Seq("Join", "CartesianProduct")),
    // DSIR: hashed-bigram models are map-side partial sums; the model
    // joins may legitimately flip strategy with corpus size — only the
    // cartesian is forbidden
    "q_dsir" -> Golden(
      required = Seq("partial_count", "partial_sum"),
      forbidden = Seq("CartesianProduct")),
    // the Gumbel top-k selection must stay a TakeOrdered, never a global
    // sort of the scored corpus
    "q_dsir_resample" -> Golden(
      required = Seq("partial_count", "TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct")),
    // CCNet tertiles: the ntile window over (source, nll) with every
    // model-side join broadcast (vocab-bounded) — no corpus-vs-corpus SMJ
    "q_perplexity_buckets" -> Golden(
      required = Seq("ntile", "partial_count"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // BM25: df/tf aggregates map-side combined, idf/lens joins broadcast
    // (vocab- and one-row-bounded), the top-k a TakeOrdered
    "q_bm25" -> Golden(
      required = Seq("partial_count", "TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // hybrid RRF: both candidate legs end in TakeOrdered pools; the
    // full-outer fuse of two ≤poolK-row pools may be an SMJ (full outer
    // cannot broadcast) — only the cartesian is forbidden
    "q_hybrid_rrf" -> Golden(
      required = Seq("TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct")),
    // hard negatives: the same two pools, anti-joined — nothing
    // corpus-sized may move past the TakeOrdered pool cuts
    "q_hard_negatives" -> Golden(
      required = Seq("TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // isotropy: two one-pass aggregates + a one-row broadcast — a Join
    // here means the audit picked up an accidental self-join
    "q_isotropy" -> Golden(
      required = Seq("partial_sum"),
      forbidden = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // dedup-aware mixture: the fingerprint semi-join and two ledgers —
    // never a corpus-vs-corpus cartesian; token counts map-combine
    "q_mixture_dedup" -> Golden(
      required = Seq("partial_sum", "partial_count"),
      forbidden = Seq("CartesianProduct")),
    // phrase search: positional equi joins on (doc, pos) + a TakeOrdered
    // — never a nested-loop position compare or a cartesian (the
    // posexplode Generate sits under the pinned postings tier, so it is
    // not visible in this plan — the q_simhash_neardups precedent)
    "q_phrase_search" -> Golden(
      required = Seq("TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Heaps: two map-combined aggregates + one-row max broadcasts + the
    // 64-row bucket window — never a corpus-vs-corpus join
    "q_heaps" -> Golden(
      required = Seq("partial_count", "Window"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // mixture plan: one map-combined token aggregate joined to the
    // literal weights broadcast — nothing else may appear
    "q_mixture_plan" -> Golden(
      required = Seq("partial_count", "BroadcastHashJoin"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin"),
      maxExchanges = Some(2)),
    // NB classifier: token counts map-combine; the V·C model reaches the
    // test-split scorer as a BROADCAST hash join (the model is vocabulary-
    // bounded — a corpus-vs-corpus SMJ here means the cap stopped working).
    // The model build's own vocab×classes expansion is a bounded nested-
    // loop by construction, so only the cartesian is globally forbidden.
    "q_nb_classify" -> Golden(
      required = Seq("partial_count", "BroadcastHashJoin"),
      forbidden = Seq("CartesianProduct")),
    "q_nb_report" -> Golden(
      required = Seq("partial_count", "BroadcastHashJoin"),
      forbidden = Seq("CartesianProduct")),
    // PQ encode: per-(vec,sub) argmin is a map-combined min(struct); the
    // codebook joins broadcast (m·ksub rows) — never corpus-vs-corpus
    "q_pq_codes" -> Golden(
      required = Seq("partial_min"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")),
    // ADC probe: the candidate pool must be a TakeOrdered over the
    // map-side LUT scores, never a global sort of the scored corpus
    "q_ann_pq" -> Golden(
      required = Seq("partial_min", "TakeOrderedAndProject"),
      forbidden = Seq("CartesianProduct", "SortMergeJoin")))
    // q_bm25_rm3, q_bm25_indexed and q_ann_ivf_pq are deliberately
    // absent: their CONSTRUCTION runs driver work (the feedback pool
    // collect / the index build / the nprobe cell pick), the header's
    // exclusion rule. The final RM3 pass IS the pinned q_bm25 shape; the
    // index probe plan is asserted in InvertedIndexSpec (bucket pruning,
    // no corpus scan); IVF-PQ's candidate confinement is asserted in
    // PqSpec (results only from probed cells).

  golden.foreach { case (name, g) =>
    test(s"golden plan: $name") {
      val p = plan(name)
      g.required.foreach { frag =>
        assert(p.contains(frag), s"$name: required plan fragment '$frag' missing:\n$p")
      }
      g.forbidden.foreach { frag =>
        assert(!p.contains(frag), s"$name: forbidden plan fragment '$frag' present:\n$p")
      }
      g.maxExchanges.foreach { mx =>
        val n = opCount(p, "Exchange")
        assert(n <= mx, s"$name: $n shuffles, pinned ceiling $mx:\n$p")
      }
    }
  }

  test("golden set covers every pinned name") {
    val missing = golden.keys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"golden pins reference unknown queries: $missing")
  }
}
