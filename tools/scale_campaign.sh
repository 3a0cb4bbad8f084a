#!/usr/bin/env bash
# Round-14 scale-evidence campaign — the full protocol in one script so a
# round's binding record derives from ONE reproducible procedure
# (VERDICT r13 #7) instead of ad-hoc shell history.
#
# Stages (each skippable via $1 to resume a partial campaign):
#   corpora  : ScaleCorpus x10 (sf1) + x32 over sf0.1 (mutated replicas,
#              natural dup density — no planted clones)
#   sf1      : Verify every scale-path query at sf1 -> full DuckDB oracle
#              (ORACLE_SF1_rN.json), then the 37-query bench pair
#              (sf0.1 comparator + sf1) -> BENCH_SF1_rN.json inputs
#   sf32     : Verify the spot set at x32 -> DuckDB oracle incl. the
#              staged round-by-round q_kcore (ORACLE_SF32_rN.json), then
#              the 10-heavy bench pair -> BENCH_SF32_rN.json inputs
#
# Bench JSON lines land in /tmp/graft_campaign/*.bench.log; the round
# artifact files are assembled from them by hand (they carry protocol
# prose the harness can't know).
set -euo pipefail
cd "$(dirname "$0")/.."
STAGE="${1:-all}"
OUT=/tmp/graft_campaign
mkdir -p "$OUT"

# the 37-query sf1 bench subset (r12 lineage + the r13 gates): heavies
# spanning every scale-path family — dedup funnels, ANN tiers, text
# indexes, graph fixpoints, sessions, ALS. Lists are written multi-line
# for review and NORMALIZED to single-space strings before use
# (ADVICE r14: passing embedded newlines inside the quoted sbt command
# relied on sbt's argument parser treating them as whitespace).
SF1_BENCH="$(tr '\n' ' ' <<'EOF'
q_minhash_neardups q_minhash_neardups_wide q_winnow_neardups
q_simhash_neardups q_exact_dedup q_incremental_dedup_bucketed
q_components_admit q_dup_clusters q_dup_survivors q_cosine_near_dups_lsh
q_token_stats q_tfidf q_quality_deciles q_perplexity_buckets
q_bm25_indexed q_bm25_compacted q_phrase_indexed
q_ann_ivf_indexed q_ann_ivf_pq_indexed q_ann_ivf_pq_grown q_ann_stream_indexed
q_rendezvous_tier q_triangles q_triangle_stats q_kcore
q_pagerank_filtered q_pagerank_weighted q_pagerank_parts
q_pagerank_incremental q_hits_parts q_ppr q_yt_influencers
q_cooccur_edges q_user_sessions q_hourly_events q_asof_join q_als_recommend
EOF
)"

# the x32 spot-oracle set: the r14 eleven plus the ANN family
# (VERDICT r14 #1 — the one LLM-pipeline family whose x32 evidence was
# bench-only): q_ann_pq / q_ann_ivf_pq / q_ann_ivf_pq_grown carry their
# own stress-marked full oracles, and q_ann_ivf_pq_indexed is accepted
# via the explicit-request shared-oracle rule (its oracle SQL is the
# non-indexed twin's byte-identical text under its own name).
# Extended post-binding (r15): eight ML / multimodal / streaming rows
# so EVERY family has an at-scale correctness row — q_knn_labels is
# excluded by design (all-pairs 1-NN oracle, ~4e10 cosine ops at x32).
SF32_ORACLE="$(tr '\n' ' ' <<'EOF'
q_bm25_compacted q_components_admit q_heavy_hitters_cms
q_kcore q_user_sessions q_bm25_indexed q_incremental_dedup_bucketed
q_exact_dedup q_minhash_neardups q_token_stats q_pagerank_parts
q_ann_pq q_ann_ivf_pq q_ann_ivf_pq_grown q_ann_ivf_pq_indexed
q_kmeans q_label_centroids q_nb_classify q_media_meta q_media_frames
q_dedup_stream q_profile_stream q_late_window_stream
EOF
)"

# the x100 depth probe (r15): the standing-index probe paths — the
# sublinear-probe story that IS the 100 TB design claim — plus one
# cheap full oracle per family (q_kcore carries the graph family via
# the staged round-by-round DuckDB peel), all chosen so the DuckDB
# re-derivation stays tractable (predicted <= ~3.1x its x32 cost;
# q_user_sessions / q_minhash_neardups stay at x32 where their oracles
# already cost 70+ s). r16 (VERDICT r15 #4): q_pagerank_parts joins —
# the fixpoint family's first x100 correctness row, via the staged
# round-by-round DuckDB re-derivation (oracle_at_scale.py
# staged_pagerank_parts, budget-bounded so a blown estimate records a
# NAMED intractable row instead of running unbounded)
SF100_ORACLE="$(tr '\n' ' ' <<'EOF'
q_token_stats q_exact_dedup q_bm25_indexed q_incremental_dedup_bucketed
q_heavy_hitters_cms q_ann_ivf_pq_indexed q_kmeans q_media_meta
q_dedup_stream q_late_window_stream q_kcore q_pagerank_parts
EOF
)"

SF100_BENCH="q_ann_ivf_pq_indexed q_bm25_indexed q_incremental_dedup_bucketed"

# the x32 bench heavies (VERDICT r13 #3): the r13 four plus the fixpoint
# family and the standing-index probes
SF32_BENCH="$(tr '\n' ' ' <<'EOF'
q_triangles q_kcore q_components_admit q_bm25_compacted
q_pagerank_filtered q_ppr q_hits_parts
q_ann_ivf_pq_indexed q_incremental_dedup_bucketed q_bm25_indexed
EOF
)"

# x32 solo controls (VERDICT r14 #2/#4): same-window single-query runs
# for the two heavies whose in-sequence numbers carry a predecessor tax.
# In-sequence and solo still differ (r16 q_kcore: 99.0 s in sequence vs
# 71.5 s solo, with the since-removed cleaner wait live), so the artifact
# records both and the solo number is the one to compare across rounds.
# r16 (VERDICT r15 #2): q_triangles joins — the closest heavy to the
# wall-linear bound (25.3 of 32 in r15, on a noisy-comparator caveat)
# gets the q_kcore treatment: same-window solo + canary normalization
SF32_SOLO="q_kcore q_bm25_compacted q_triangles"

# every scale-path query with a full-recompute oracle — derived by the
# oracle checker itself (ADVICE r14: one derivation, not two copies of
# the catalog parse)
scale_path_queries() {
  python3 tools/oracle_at_scale.py --list
}

if [[ "$STAGE" == all || "$STAGE" == corpora ]]; then
  rm -rf /tmp/graft_sf1 /tmp/graft_sf32
  SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g sbt -batch \
    "runMain graft.ScaleCorpus /root/testdata/sf0.1 /tmp/graft_sf1 10; runMain graft.ScaleCorpus /root/testdata/sf0.1 /tmp/graft_sf32 32"
fi

if [[ "$STAGE" == all || "$STAGE" == sf1 ]]; then
  SCALE_Q="$(scale_path_queries)"
  echo "sf1 verify over $(wc -w <<<"$SCALE_Q") scale-path queries"
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE_PARTITIONS=320 SPARK_DRIVER_MEM=48g \
    sbt -batch "runMain graft.Verify /tmp/graft_sf1 $OUT/verify_sf1 $SCALE_Q"
  python3 tools/oracle_at_scale.py /tmp/graft_sf1 "$OUT/verify_sf1" \
    "$OUT/ORACLE_SF1.json" | tee "$OUT/oracle_sf1.log"
  # bench pair: sf0.1 comparator (partitions 32) then sf1 (320)
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=32 SPARK_DRIVER_MEM=48g \
    sbt -batch "runMain graft.Bench $SF1_BENCH" 2>&1 | tee "$OUT/sf01_for_sf1.bench.log" | tail -2
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=320 SPARK_DRIVER_MEM=48g \
    sbt -batch "runMain graft.Bench $SF1_BENCH" 2>&1 | tee "$OUT/sf1.bench.log" | tail -2
  # VERDICT r14 #6: queries the sf1 pass flagged suspect_stall leaned on
  # min-of-2 to reject one bad pass — re-measure ONLY those at runs=3 so
  # the min is robust to two noisy passes; the artifact records both
  # numbers with their runs
  # `|| true`: an EMPTY suspect_stall list (the healthy run) makes the
  # inner grep exit 1, which under pipefail would abort the whole
  # campaign right here and silently skip the sf32/sf100 stages
  FLAGGED="$(grep -o '"suspect_stall":\[[^]]*\]' "$OUT/sf1.bench.log" \
    | tail -1 | grep -o 'q_[a-z_0-9]*' | tr '\n' ' ' || true)"
  if [[ -n "${FLAGGED// /}" ]]; then
    echo "sf1 flagged rerun (runs=3): $FLAGGED"
    SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_SHUFFLE_PARTITIONS=320 SPARK_DRIVER_MEM=48g \
      SPARK_GRAFT_BENCH_RUNS=3 \
      sbt -batch "runMain graft.Bench $FLAGGED" 2>&1 \
      | tee "$OUT/sf1_flagged_runs3.bench.log" | tail -2
  fi
fi

if [[ "$STAGE" == all || "$STAGE" == sf32 ]]; then
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE_PARTITIONS=1024 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.Verify /tmp/graft_sf32 $OUT/verify_sf32 $SF32_ORACLE"
  TMPDIR=/tmp python3 tools/oracle_at_scale.py /tmp/graft_sf32 "$OUT/verify_sf32" \
    "$OUT/ORACLE_SF32.json" $SF32_ORACLE | tee "$OUT/oracle_sf32.log"
fi

# the x32 BENCH half on its own (r16): the oracle half above stands
# round-to-round once green; re-measuring the heavies + solos + flagged
# reruns must not force the 23-query DuckDB re-derivation with it
if [[ "$STAGE" == all || "$STAGE" == sf32 || "$STAGE" == sf32bench ]]; then
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=32 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.Bench $SF32_BENCH" 2>&1 | tee "$OUT/sf01_for_sf32.bench.log" | tail -2
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf32 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=1024 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.Bench $SF32_BENCH" 2>&1 | tee "$OUT/sf32.bench.log" | tail -2
  # same-window solo controls (VERDICT r14 #2/#4): the in-sequence vs
  # solo ratio is the predecessor-tax measurement; run immediately after
  # the sequence so both sides share the box's weather
  for q in $SF32_SOLO; do
    SPARK_GRAFT_SF_DIR=/tmp/graft_sf32 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_SHUFFLE_PARTITIONS=1024 SPARK_DRIVER_MEM=64g \
      sbt -batch "runMain graft.Bench $q" 2>&1 \
      | tee "$OUT/sf32_solo_$q.bench.log" | tail -2
  done
  # VERDICT r15 #3: the x32 flags get the same runs=3 re-measure
  # protocol the sf1 flags got in r15 — min over three full passes is
  # robust to two noisy ones; the artifact records runs with the number
  FLAGGED32="$(grep -o '"suspect_stall":\[[^]]*\]' "$OUT/sf32.bench.log" \
    | tail -1 | grep -o 'q_[a-z_0-9]*' | tr '\n' ' ' || true)"
  if [[ -n "${FLAGGED32// /}" ]]; then
    echo "sf32 flagged rerun (runs=3): $FLAGGED32"
    SPARK_GRAFT_SF_DIR=/tmp/graft_sf32 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_SHUFFLE_PARTITIONS=1024 SPARK_DRIVER_MEM=64g \
      SPARK_GRAFT_BENCH_RUNS=3 \
      sbt -batch "runMain graft.Bench $FLAGGED32" 2>&1 \
      | tee "$OUT/sf32_flagged_runs3.bench.log" | tail -2
  fi
fi

# x100 depth probe (r15): the largest corpus we test. Partitions follow
# the data (the x32 rule x3.1 -> 3200); wall-linear bound = ratio 100.
if [[ "$STAGE" == all || "$STAGE" == sf100 ]]; then
  # completion sentinel, not a bare -d check: an aborted ScaleCorpus
  # leaves a partial directory, and Verify + the DuckDB oracle would
  # both read the same partial parquet — green oracles over a corpus
  # that silently isn't x100
  if [[ ! -f /tmp/graft_sf100/.complete ]]; then
    rm -rf /tmp/graft_sf100
    SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g sbt -batch \
      "runMain graft.ScaleCorpus /root/testdata/sf0.1 /tmp/graft_sf100 100"
    touch /tmp/graft_sf100/.complete
  fi
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE_PARTITIONS=3200 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.Verify /tmp/graft_sf100 $OUT/verify_sf100 $SF100_ORACLE"
  TMPDIR=/tmp python3 tools/oracle_at_scale.py /tmp/graft_sf100 "$OUT/verify_sf100" \
    "$OUT/ORACLE_SF100.json" $SF100_ORACLE | tee "$OUT/oracle_sf100.log"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=32 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.Bench $SF100_BENCH" 2>&1 | tee "$OUT/sf01_for_sf100.bench.log" | tail -2
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf100 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=3200 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.Bench $SF100_BENCH" 2>&1 | tee "$OUT/sf100.bench.log" | tail -2
fi

# steady-state standing-index probes (VERDICT r15 #1/#5): build each
# index ONCE, probe it SPARK_GRAFT_PROBE_REPS times, decompose the
# executed plan (files/bytes/rows read, bucket pruning, per-window
# canaries) — the paired sf0.1 run is the same-protocol comparator for
# the probe-leg ratios. AFTER the sf100 stage (review r16: a fresh
# STAGE=all box has no x100 corpus until that stage builds it), and
# gated on the same completion sentinel so a partial corpus is never
# silently profiled as x100.
if [[ "$STAGE" == all || "$STAGE" == probes ]]; then
  [[ -f /tmp/graft_sf100/.complete ]] || {
    echo "probes: /tmp/graft_sf100 missing or incomplete — run stage sf100 first" >&2
    exit 1
  }
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=32 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.ProbeProfile" 2>&1 \
    | tee "$OUT/probes_sf01.log" | tail -2
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf100 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=3200 SPARK_DRIVER_MEM=64g \
    sbt -batch "runMain graft.ProbeProfile" 2>&1 \
    | tee "$OUT/probes_sf100.log" | tail -2
fi
echo "campaign stage '$STAGE' done -> $OUT"
