#!/bin/bash
# Per-round RocksDB provider leg for the streaming catalog (VERDICT r16
# #5): the driver's oracle gate runs the streaming entries on the default
# (HDFS-backed) state-store provider, so no catalog row exercises
# RocksDB there — while the measured 100TB scale posture (the
# provider crossover in BENCH_spill_r15.json) says a real deployment runs
# RocksDB. This sweep re-runs every catalog entry that starts a real
# streaming query with the RocksDB provider forced globally
# (SPARK_GRAFT_STATE_PROVIDER + the two per-entry provider knobs) and
# replays the same DuckDB value compare, so the scale-path provider is
# answer-checked every round, not only in one-off steady-state runs.
#
# Usage: scripts/rocksdb_sweep.sh [sfDir] [outJson]
# With no outJson the record goes to a fresh temporary file (its path is
# printed last), so a plain run never overwrites a committed record.
set -euo pipefail
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-$(mktemp /tmp/rocksdb_sweep_XXXX.json)}"
OUT="$(realpath "$OUT")"
cd "$(dirname "$(realpath "$0")")/.."

# every SparkEntry catalog entry that runs a streaming query to
# completion (writeStream / StreamVerify / streamingDedupEntry); batch
# entries don't consult the state-store provider and are covered by the
# main gate
ENTRIES="q_dedup_embedding_streaming,q_dedup_minhash_streaming,q_heavy_hitters_streaming,q_join_stream_static,q_join_stream_stream,q_join_stream_stream_full,q_join_stream_stream_left,q_late_drop,q_sessionize_streaming,q_window_streaming,q_window_streaming_mk,q_window_streaming_ml"

ODIR="$(mktemp -d /tmp/graft_rocksdb_XXXX)"
CHECK="$(mktemp /tmp/rocksdb_check_XXXX.txt)"
trap 'rm -f "$CHECK"' EXIT
SPARK_GRAFT_STATE_PROVIDER=rocksdb \
SPARK_GRAFT_SSJ_PROVIDER=rocksdb \
SPARK_GRAFT_SDD_PROVIDER=rocksdb \
sbt -batch "runMain graft.Verify $SF $ODIR $ENTRIES" 2>&1 | tail -2
python3 scripts/check.py "$SF" "$ODIR" "$ENTRIES" | tee "$CHECK"

python3 - "$OUT" "$SF" "$ENTRIES" "$CHECK" <<'EOF'
import json, sys
out, sf, entries, check = sys.argv[1], sys.argv[2], sys.argv[3].split(','), sys.argv[4]
res = {}
for line in open(check):
    line = line.strip()
    if line.startswith('PASS '):
        name = line.split()[1]
        res[name] = {'pass': True, 'rows': int(line.split('(')[1].split()[0])}
    elif line.startswith('FAIL '):
        name = line.split()[1].rstrip(':')
        res[name] = {'pass': False, 'detail': line}
missing = [e for e in entries if e not in res]
doc = {
  'tool': 'scripts/rocksdb_sweep.sh (graft.Verify + scripts/check.py)',
  'what': ('streaming catalog entries re-run with the RocksDB state-store '
           'provider forced globally (SPARK_GRAFT_STATE_PROVIDER=rocksdb + '
           'the SSJ/SDD per-entry knobs), value-compared against the same '
           'DuckDB oracles as the default-provider gate'),
  'sf_dir': sf,
  'provider': 'RocksDBStateStoreProvider (changelog checkpointing on, '
              'trackTotalNumberOfRows off)',
  'n_entries': len(entries),
  'n_pass': sum(1 for v in res.values() if v.get('pass')),
  'missing': missing,
  'entries': res,
}
json.dump(doc, open(out, 'w'), indent=1)
print('->', out)
if missing or doc['n_pass'] != len(entries):
    sys.exit(1)
EOF
