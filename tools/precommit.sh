#!/usr/bin/env bash
# Structural close-out guard (VERDICT r10 item 2: three consecutive
# rounds died at an unverified final commit). Run before EVERY commit:
#
#   tools/precommit.sh [q1_name,q2_name,...]
#
# 0. Settings guard: src/main may name only the two user-settable
#    `spark.graft.*` keys — the lineage durability mode and the
#    per-session MV rewrite switch. Path choices (driver twin vs
#    distributed loop) are constants in graft.ops.DriverTwin, never
#    settings.
#    Entry-point guard: a `def main(` in src/main is a driver or
#    precommit surface (Bench, Verify, Smoke, Explain, LintNew,
#    ScaleProbe) or it does not belong there — harness code lives in
#    tests.
# 1. `sbt compile` — the r10 failure mode (an uncompiled final commit)
#    becomes impossible.
# 2. If query names are given (anything touched since the last full
#    battery): Verify-dump them at sf0.01, exact-compare against the
#    DuckDB oracle (tools/check.py), and planLint them (graft.LintNew).
#
# Exits nonzero on any failure; the commit must not happen in that case.
set -euo pipefail
cd "$(dirname "$0")/.."
QS="${1:-}"
BAD_KEYS=$(git grep --untracked -ohE 'spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]' -- src/main \
  | sort -u | grep -vxE 'spark\.graft\.(lineage\.cut|mvRewrite)' || true)
if [ -n "$BAD_KEYS" ]; then
  echo "PRECOMMIT FAIL: spark.graft.* keys outside the allowed two:"
  echo "$BAD_KEYS"
  exit 1
fi
BAD_MAINS=$(git grep --untracked -lE 'def main\(' -- src/main \
  | grep -vxE 'src/main/scala/graft/(Bench|Verify|Smoke|Explain|LintNew|ScaleProbe)\.scala' || true)
if [ -n "$BAD_MAINS" ]; then
  echo "PRECOMMIT FAIL: def main( outside the driver and precommit surfaces:"
  echo "$BAD_MAINS"
  exit 1
fi
# Test/compile: main AND test sources must compile (ADVICE r11 — a
# break in a spec would otherwise pass the gate)
sbt -batch Test/compile
if [ -n "$QS" ]; then
  # stale managed-table dirs from a dead session break deterministic
  # saveAsTable names (LOCATION_ALREADY_EXISTS) — start clean, as the
  # verify skill mandates for full runs
  rm -rf target/precommit_out spark-warehouse target/indexes
  SPARK_GRAFT_ONLY="$QS" SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 target/precommit_out"
  python3 tools/check.py /root/testdata/sf0.01 target/precommit_out
  sbt -batch "runMain graft.LintNew $QS"
fi
# 3. Bench-regression gate (VERDICT r12 #3): a fresh full battery in the
#    working tree must diff clean (>1.3x per-query regressions need a
#    named allowance) against the last committed one BEFORE it is
#    committed. Allowances live in tools/bench_allow.txt (QUERY=REASON
#    lines, committed with the battery so the justification is part of
#    the record; rewrite it per battery — stale entries mask real
#    regressions). The gate output must be quoted in the snapshot commit.
if ! git diff --quiet -- BENCH_FULL.json 2>/dev/null; then
  python3 tools/bench_diff.py --new BENCH_FULL.json --base HEAD \
    --allow-file tools/bench_allow.txt
  # Close-out checklist (VERDICT r14 #2 — stale round artifacts at HEAD
  # recurred two rounds running): a modified battery must LAND with the
  # commit it gates, not linger dirty. Stage it (plus LEAKCHECK.json if
  # modified) before committing.
  if git diff --quiet --cached -- BENCH_FULL.json 2>/dev/null; then
    echo "PRECOMMIT FAIL: BENCH_FULL.json is modified but not staged —"
    echo "  git add BENCH_FULL.json tools/bench_allow.txt LEAKCHECK.json"
    echo "  so the battery lands with this commit (or stash the battery)."
    exit 1
  fi
fi
echo "PRECOMMIT OK"
