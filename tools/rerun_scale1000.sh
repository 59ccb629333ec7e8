#!/bin/bash
# Re-take the 1000x dedup receipts end-to-end on the honest
# (1000-permutation-distinct) corpus and leave DURABLE artifacts under
# receipts/ (target/ is wiped between rounds; receipts/ is committed).
#
#   1. synthesize target/scale1000/documents.parquet (self-guarded; the
#      leg is skipped when the _SUCCESS marker already exists) and time
#      q48/q51/q153 at 1x vs 1000x  -> receipts/scale1000_dedup_r14.log
#   2. dump the engine's q48/q51 outputs at 5M docs for the audit
#   3. run the 10-check structural audit incl. the 50k-doc sampled
#      exact-CC DuckDB oracle        -> receipts/audit_scale1000_r14.log
#
# Usage: tools/rerun_scale1000.sh   (from any directory; ~30-45 min)
set -e
cd "$(dirname "$0")/.."

SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
SPARK_GRAFT_SCALE_COPIES=1000 \
SPARK_GRAFT_SCALE_TABLES=documents \
SPARK_GRAFT_SCALE_ONLY=q48_minhash_lsh_dedup,q51_dedup_keep_longest,q153_sorted_neighborhood \
GRAFT_XMX=64g tools/java_run.sh graft.ScaleBench \
  2> receipts/scale1000_dedup_r14.stderr.log \
  | tee receipts/scale1000_dedup_r14.log

SPARK_GRAFT_CPUS=32 GRAFT_XMX=64g tools/java_run.sh graft.Verify \
  target/scale1000 target/vs1000 \
  q48_minhash_lsh_dedup,q51_dedup_keep_longest \
  2> receipts/vs1000_dump_r14.stderr.log

python3 tools/audit_scale1000.py target/scale1000 target/vs1000 \
  | tee receipts/audit_scale1000_r14.log
