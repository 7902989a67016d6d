#!/bin/bash
# COLD-SCRATCH headline bench (VERDICT r18 next-round #1a): wipe every
# amortized disk layout under target/scratch (EXCEPT the scaleN
# synthetic inflations, which are test DATA, not derived layouts), then
# run the 25-op headline bench once and commit the result as
# docs/bench_cold.json. The point is falsifiability: every
# `Lake.layout` layout's build cost becomes a measured, per-round
# committed number instead of an invisible one-time cost no bench run
# ever pays again. Round cadence: run once per round after the final
# code state, commit docs/bench_cold.json alongside the round artifacts.
#
# Usage: tools/bench_cold.sh  (from the repo root)
set -euo pipefail
cd "$(dirname "$0")/.."

SCRATCH=target/scratch
if [ -d "$SCRATCH" ]; then
  find "$SCRATCH" -mindepth 1 -maxdepth 1 ! -name 'scale*' -exec rm -rf {} +
fi

# the headline list lives in graft.Bench.headline; keep this in sync
OPS="q1_pricing_summary,q3_shipping_priority,q9_profit,q18_large_orders,\
q21_waiting_supplier,q_window_running,q_heavy_hitters,q_asof_join,lake_scan,\
lake_bucketed_join,lake_time_travel,d_minhash_lsh,d_dup_clusters,\
d_corpus_curate,d_embed_neardup,s_ann_bruteforce,s_ann_ivf_partitioned,\
s_ann_pq,t_ngram_freq,t_lang_id,st_session_window,st_stream_neardup,\
lake_zorder,q_bloom_join,g_pagerank"

# Bench writes docs/bench_only.json; a copy left by an earlier run
# must never pass for this run's result, so remove it first, let a
# failing sbt/Bench stop the script (pipefail), and copy only a file
# written after this run started.
rm -f docs/bench_only.json
MARK=$(mktemp)
trap 'rm -f "$MARK"' EXIT
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_ONLY="$OPS" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"'

if [ ! -f docs/bench_only.json ] || [ ! docs/bench_only.json -nt "$MARK" ]; then
  echo "bench_cold: docs/bench_only.json missing or older than this run" >&2
  exit 1
fi
cp docs/bench_only.json docs/bench_cold.json
echo "wrote docs/bench_cold.json"

# Bench's outlier-remeasure arm replaces most cold first-pass times
# with warm minima (the layouts exist by the rerun), so the per-op
# PROVISIONING cost only survives in first_pass_vs_best. Second pass:
# wipe again and run the scale tool's base pass (factor 1) over the
# same ops: each op's cold run carries its provisioning, its steady
# run the recurring cost; the pair is the per-op provisioning
# attribution the cold artifact exists for.
find "$SCRATCH" -mindepth 1 -maxdepth 1 ! -name 'scale*' -exec rm -rf {} +
PROBE_RAW=target/bench_cold_scale.json
rm -f "$PROBE_RAW"
SPARK_GRAFT_ONLY="$OPS" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.tools.Scale ${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} $PROBE_RAW 1" 2>/dev/null \
  | grep '"scale":"done"'
python3 - "$PROBE_RAW" <<'PYEOF'
import json, sys
d = json.load(open(sys.argv[1]))
rows = {n: {"cold": o["base"][0], "steady": o["base"][1],
            "provision": round(o["base"][0] - o["base"][1], 3)}
        for n, o in d["ops"].items()}
json.dump({"note": "per-op cold (first touch after scratch wipe, provisioning "
                   "included) vs steady seconds; graft.tools.Scale base pass "
                   "(factor 1), count() action, local[%s]" % d["cpus"],
           "cold_total": round(sum(r["cold"] for r in rows.values()), 2),
           "steady_total": round(sum(r["steady"] for r in rows.values()), 2),
           "ops": rows}, open("docs/bench_cold_probe.json", "w"), indent=1)
print("wrote docs/bench_cold_probe.json", len(rows), "ops")
PYEOF
