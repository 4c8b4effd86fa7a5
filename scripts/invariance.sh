#!/usr/bin/env bash
# Partition-count invariance sweep (the 100 TB determinism property):
# run every declared query under shuffle.partitions = 4, 7 and 32, once
# with the default file splits and once with 64 KB splits
# (SPARK_GRAFT_SPLIT_BYTES), and assert bit-identical sorted results per
# key within each split size; the 64 KB dump is then held to the DuckDB
# oracle too. At the default split size each small fixture table is one
# split, which the one-split fast path plans as a single partition; at
# 64 KB every table is several splits, so the exchanges and range sorts
# a table at scale gets are swept too. Each 64 KB leg is also compared
# with the default-split leg at the same partition count. Usage:
#   scripts/invariance.sh [sfDir]    (default /root/testdata/sf0.01)
#
# Same hardening as judge.sh (ADVICE r7): stale dumps removed up front,
# sbt exit codes checked from a log instead of a pipefail-masked grep.
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
LEGS=()
for split in "" 64k; do
  for n in 4 7 32; do
    leg=$n${split:+_$split}
    LEGS+=("$leg")
    rm -rf "/tmp/graft_inv_$leg"
    LOG=/tmp/graft_inv_$leg.log
    echo "== Verify with shuffle.partitions=$n, split bytes ${split:-default} =="
    if ! SPARK_GRAFT_CPUS=$n SPARK_GRAFT_SPLIT_BYTES=$split \
        sbt -batch "runMain graft.Verify $SF /tmp/graft_inv_$leg" >"$LOG" 2>&1; then
      tail -n 40 "$LOG"
      echo "VERIFY CRASHED (sbt exit != 0; full log: $LOG)"
      exit 1
    fi
    if grep -E '\[verify\].*failed' "$LOG"; then
      echo "VERIFY FAILURES ^"
      exit 1
    fi
  done
done
python3 - "${LEGS[@]}" <<'EOF'
import glob, hashlib, sys, os
import pyarrow.parquet as pq

# Approximate-sketch keys: the ESTIMATE may legitimately move with merge
# order (DataSketches HLL coupon promotion, KLL compaction), so these
# are held to a 2% relative tolerance instead of bit identity. Everything
# else — including every hash-signature and learned-model key — must be
# bit-identical: that is the 100 TB determinism property.
# r15: hll_count_rollup + count_distinct_approx moved OUT of this set —
# their outputs are now exact counts + margin-safe ε-verdict booleans
# (VERDICT r14 ask #3), bit-identical under any partitioning.
SKETCH = {"percentile_approx_scale"}

def load(d, k):
    df = pq.ParquetDataset(glob.glob(f"{d}/{k}/*.parquet")).read().to_pandas()
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def digest(df):
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()

keys = sorted(k for k in os.listdir("/tmp/graft_inv_4")
              if os.path.isdir(f"/tmp/graft_inv_4/{k}"))
# each leg against the shuffle.partitions=4 leg of its own split size,
# and each 64 KB leg against the default-split leg at its partition count
legs = [(l, "4" + l[len(l.split("_")[0]):]) for l in sys.argv[1:]]
legs += [(l, l.split("_")[0]) for l in sys.argv[1:] if "_" in l]
bad = []
for n, ref in legs:
    if n == ref:
        continue
    for k in keys:
        a, b = load(f"/tmp/graft_inv_{ref}", k), load(f"/tmp/graft_inv_{n}", k)
        if k in SKETCH:
            if len(a) != len(b):
                bad.append((k, n, "row count"))
                continue
            for c in a.columns:
                if str(a[c].dtype).startswith(("int", "float")):
                    rel = ((a[c] - b[c]).abs() /
                           a[c].abs().clip(lower=1)).max()
                    if rel > 0.02:
                        bad.append((k, n, f"{c} drift {rel:.3f}"))
                elif not a[c].equals(b[c]):
                    bad.append((k, n, f"{c} differs"))
        elif digest(a) != digest(b):
            bad.append((k, n, "hash"))
if bad:
    print("PARTITION-COUNT VARIANT KEYS:", bad)
    sys.exit(1)
print(f"{len(keys)}/{len(keys)} keys invariant under shuffle.partitions = 4/7/32 "
      f"and between default and 64 KB file splits "
      f"({len(keys) - len(SKETCH)} bit-identical, {len(SKETCH)} sketches within 2%)")
EOF
echo "== DuckDB oracle compare of the 64 KB split dump =="
python3 scripts/check.py "$SF" /tmp/graft_inv_4_64k | tail -n 1
