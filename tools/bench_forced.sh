#!/usr/bin/env bash
# Forced-distributed-tier bench sweep (r11, VERDICT item 1): the graph /
# iterative queries with SPARK_GRAFT_COLLECT_THRESHOLD=0, so the AT-SCALE
# formulations — the ones that exist at 100 TB, where no collect tier
# does — get a RECORDED performance series, not just a correctness gate.
# Round-close protocol: run this once per round, commit the output as
# BENCH_FORCED_r{N}.json, and root-cause any per-query regression >1.3x
# round-over-round against the previous file.
#
# Usage: tools/bench_forced.sh [out.json]   (from /root/repo)
set -euo pipefail
out="${1:-BENCH_FORCED_last.json}"

# the distributed-tier query set fixed by the r10 verdict: q40-q49
# (graph family) and q46's exact twin q64, PageRank variants q94/q101,
# and the echo-chamber metrics q15-q18 (modularity, structure, ECS,
# homophily), whose inputs otherwise run on the driver; plus the MinHash
# and cosine near-dup group kernels q110/q112, whose small corpora
# otherwise run on the driver.
# Every operator reads the collect gate itself at each of its gates, so
# =0 also puts the brute tiers of DBSCAN and HDBSCAN on their distributed
# tiers (q46 runs LSH, q64 the exact join, q48/q49 the blocked tier),
# Borůvka's merge on pointer doubling, and reaches the nested component
# gates: q45's intra-community components, DBSCAN's components (q46, q64)
# and HDBSCAN's extraction levels (q48/q49, once the MST outgrows the
# 4,096-edge driver batch) run GraphX components here.
ONLY=q40_kcore,q41_label_prop,q42_louvain,q43_connected_components
ONLY=$ONLY,q44_fastrp,q45_leiden,q46_density,q47_modularity_opt,q64_dbscan_exact
ONLY=$ONLY,q48_hdbscan,q49_ep2_pipeline,q94_pagerank,q101_ppr,q15_modularity
ONLY=$ONLY,q16_structure,q17_ecs,q18_homophily
ONLY=$ONLY,q110_neardup_groups,q112_minhash_neardup_groups

SPARK_GRAFT_COLLECT_THRESHOLD=0 \
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_ONLY="$ONLY" \
SPARK_GRAFT_BENCH_MIRROR="$out" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '{"metric"' > "$out"
cat "$out"
