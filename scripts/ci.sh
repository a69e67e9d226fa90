#!/usr/bin/env bash
# CI gate: the two long verifications that form the regression net, as ONE
# command (r5 VERDICT next-round #8).
#
#   1. full pytest suite (581 tests, ~8 min on 4 cores), then the
#      end-to-end benchmark's self-tests (e2ebench/run.py --selftest for
#      sheet_report and corpus_mix, ~30 s): the workbook CLI and the
#      pretraining_mix pipeline each run once, checked against DuckDB, and
#      an altered output must be caught
#   2. scripts/selfcheck.py — every registry query's Spark plan vs its
#      DuckDB oracle at sf0.01, value-compared (~11 min); output is diffed
#      against the expected-green manifest scripts/ci_expected.txt so a
#      red row (or a silently vanished query) fails loudly.
#
# Opt-in sf1 tier (r6 VERDICT next-round #7): the r6 one-off 150/150 sf1
# value sweep, repeatable as a gate.  Runs the same selfcheck at
# .scratch/sf1 (50k docs, 10x clones — the tier that exposed the r6
# lsh_ann/ivf_ann planted-tie bug) and diffs against its own manifest
# scripts/ci_expected_sf1.txt (row counts are tier-specific, so the two
# manifests are separate).  pytest is tier-independent and only runs in
# the default gate; `ci.sh && ci.sh --sf1` is the full net (~45 min).
#
# Usage:  bash scripts/ci.sh                  # pytest + sf0.01 selfcheck
#         bash scripts/ci.sh --sf1            # sf1 selfcheck only
#         bash scripts/ci.sh --regen [--sf1]  # rebuild a manifest
#
# --sf1 requires the generated tier: PYTHONPATH=. python scripts/gen_sf1.py
set -euo pipefail
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}"

REGEN=0
SF1=0
for arg in "$@"; do
  case "$arg" in
    --regen) REGEN=1 ;;
    --sf1) SF1=1 ;;
    *) echo "unknown flag: $arg" >&2; exit 2 ;;
  esac
done

if [[ "$SF1" == 1 ]]; then
  EXPECTED=scripts/ci_expected_sf1.txt
  export SPARK_GRAFT_SF_DIR="$PWD/.scratch/sf1"
  if [[ ! -e .scratch/sf1 ]]; then
    echo "CI: .scratch/sf1 tier missing — generate it first:" >&2
    echo "  PYTHONPATH=$PWD python scripts/gen_sf1.py" >&2
    exit 2
  fi
else
  EXPECTED=scripts/ci_expected.txt
fi

ACTUAL=$(mktemp)
trap 'rm -f "$ACTUAL"' EXIT

if [[ "$REGEN" == 1 ]]; then
  python scripts/selfcheck.py | grep -E '^(ok|FAIL|rows-only)' | sort > "$EXPECTED"
  echo "regenerated $EXPECTED ($(wc -l < "$EXPECTED") rows)"
  exit 0
fi

if [[ "$SF1" == 0 ]]; then
  echo "== pytest =="
  python -m pytest tests/ -q
  for workload in sheet_report corpus_mix; do
    echo "== e2ebench selftest: $workload =="
    python3 e2ebench/run.py --workload "$workload" --selftest | tail -n 1
  done
fi

echo "== selfcheck vs $EXPECTED =="
python scripts/selfcheck.py | grep -E '^(ok|FAIL|rows-only)' | sort > "$ACTUAL"
if ! diff -u "$EXPECTED" "$ACTUAL"; then
  echo "CI: selfcheck output drifted from the expected-green manifest" >&2
  exit 1
fi
echo "CI GREEN: $(wc -l < "$EXPECTED") selfcheck rows match $EXPECTED"
