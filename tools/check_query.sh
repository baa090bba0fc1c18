#!/bin/bash
# Per-query oracle check: dump one registry query at a given SF and run
# the DuckDB selfcheck against it. Usage: tools/check_query.sh <query> [sfDir]
# For an A/B of two builds, run this one script for each with
# GRAFT_CLASSES naming that build's classes dir (see tools/run_main.sh).
set -e
# Registry queries write their tables at fixed paths under
# /tmp/graft-warehouse, and the output lands under /tmp/qcheck: two runs
# at once (two checkouts, two SFs) would overwrite each other mid-query.
# One exclusive lock, held until exit, serializes the dump and the check.
exec 9>/tmp/graft_check_query.lock
flock 9
Q="$1"; SF="${2:-/root/testdata/sf0.01}"
OUT="/tmp/qcheck/$Q-$(basename "$SF")"
rm -rf "$OUT"
tools/run_main.sh graft.tools.QueryDump "$Q" "$SF" "$OUT" 2>/dev/null | tail -1
python3 - "$Q" "$OUT" <<'EOF'
import json, sys, os
q, out = sys.argv[1], sys.argv[2]
p = f"{out}/{q}.oracle.sql"
m = {f"{q}.parquet": open(p).read()} if os.path.exists(p) else {}
json.dump(m, open(f"{out}/oracle_sql.json", "w"))
EOF
python3 tools/selfcheck.py "$SF" "$OUT" 2>&1 | tail -2
