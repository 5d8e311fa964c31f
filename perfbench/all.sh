#!/usr/bin/env bash
# Runs every workload once (untraced) and prints each run's summary line.
# Usage, from the root of a checkout: bash perfbench/all.sh [seed]
set -euo pipefail
cd "$(dirname "$0")/.."
for w in resolve_exact resolve_sim fold_micro; do
    python3 perfbench/run.py --workload "$w" --seed "${1:-1}" --seconds 1 --trace 0 | tail -2 | head -1
done
