#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py [workload ...]

Runs every workload with and without tracing on small inputs and asserts
that the result line parses, has exactly the contract's keys, names every
metric of BENCHMARK.json with its unit, and that every output check ran
and passed. Then it corrupts one oracle expectation and asserts the run
reports the mismatch. Run from the repository root; takes a few minutes.
"""
import glob
import json
import os
import subprocess
import sys

SCALE = "0.25"
# output checks each workload must run: op names checked in every pass,
# plus end-of-run checks
CHECKS = {
    "etl_nightly": ["ref.icpe_enrich", "ref.icpe_stats", "ref.publish", "ops.keep_latest",
                    "ops.asof_join", "ops.interval_join", "ops.merge_upsert", "ops.scd2",
                    "streaming.sessionize", "streaming.hourly", "fingerprint.icpe",
                    "fingerprint.publish", "fingerprint.keep_latest", "fingerprint.hourly"],
    "curation": ["text.features", "text.repetition", "dedup.exact", "dedup.minhash",
                 "dedup.candidates", "dedup.cluster", "dedup.dedup_by_clusters",
                 "dedup.span_scrub", "sim.semantic_pairs", "ref.write_corpus"],
}
SEED = 5


def run(workload, trace, report):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE, "--report", report]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    return last, json.load(open(report))["detail"], p.stderr


def check_result(spec, workload, trace, last, detail):
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    assert last["correct"] is True and last["failed"] == 0, (workload, detail.get("errors"))
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in wanted}, \
        set(last["metrics"]) ^ {m["name"] for m in wanted}
    for m in wanted:
        got = last["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
        if not trace:
            assert got["value"] > 0, f"{workload}: end-to-end {m['name']} is {got['value']}"
    missing = [c for c in CHECKS[workload] if c not in detail["checked"]]
    assert not missing, f"{workload}: checks that did not run: {missing}"


def main():
    spec = json.load(open("BENCHMARK.json"))
    workloads = sys.argv[1:] or list(CHECKS)
    report = os.path.join(".bench_build", "perfbench", "selftest-report.json")
    os.makedirs(os.path.dirname(report), exist_ok=True)
    for w in workloads:
        for trace in (0, 1):
            last, detail, _ = run(w, trace, report)
            check_result(spec, w, trace, last, detail)
            print(f"ok {w} trace={trace}: {len(last['metrics'])} metrics, "
                  f"{last['attempted']} checked ops")
    # a wrong expectation must surface as a failed, reported check
    w = "etl_nightly" if "etl_nightly" in workloads else None
    if w:
        exp = glob.glob(f".bench_build/perfbench/inputs/{w}-s{SEED}-x{SCALE}-*/expected.json")
        assert len(exp) == 1, exp
        orig = open(exp[0]).read()
        bad = json.loads(orig)
        bad["keep_latest"][0] += 1
        try:
            with open(exp[0], "w") as f:
                json.dump(bad, f)
            last, _, err = run(w, 0, report)
        finally:
            with open(exp[0], "w") as f:
                f.write(orig)
        assert last["correct"] is False and last["failed"] >= 1, last
        assert "keep_latest" in err, err[-2000:]
        print("ok mismatch reported: correct=false, failed", last["failed"])
    print("selftest passed")


if __name__ == "__main__":
    main()
