#!/usr/bin/env python3
"""Benchmark of record: one seeded workload run, one JSON result line.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed (gen.py), expected outputs come from DuckDB (oracle.py),
and the engine runs in one JVM on a local[nproc] Spark session
(src/main/scala/perfbench/Main.scala). With --trace 0 the last line
carries every end-to-end metric; with --trace 1, every per-layer metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402


def metric_units(kind):
    """name -> unit of the end_to_end or per_layer metrics, in file order."""
    spec = json.load(open("BENCHMARK.json"))
    return {m["name"]: m["unit"] for m in spec[kind]}


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
DEADLINE_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, HERE).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs on."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(root):
    """Compile engine + benchmark with sbt unless the sources are unchanged."""
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        fail(f"engine sources not found under {engine}; run from the repository root")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = tree_digest([engine, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")])
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                          env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def inputs(cache, workload, seed, scale):
    """Generated inputs and oracle expectations, cached per (seed, scale)."""
    key = tree_digest([os.path.join(HERE, "gen.py"), os.path.join(HERE, "oracle.py")])[:12]
    d = os.path.join(cache, f"{workload}-s{seed}-x{scale:g}-{key}")
    done = os.path.join(d, "expected.json")
    if os.path.isfile(done):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    data = os.path.join(d, "data")
    manifest = gen.GENERATORS[workload](data, seed, scale)
    if workload == "etl_nightly":
        exp = oracle.etl_expected(data)
    else:
        exp = oracle.curation_expected(data, min_len=10)
    exp["input_rows"] = manifest["input_rows"]
    with open(done + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(done + ".tmp", done)
    # keep the four most recently used input sets
    sets = sorted((os.path.join(cache, x) for x in os.listdir(cache)), key=os.path.getmtime)
    for old in sets[:-4]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test: small)")
    ap.add_argument("--report", help="also write the detailed result JSON here")
    a = ap.parse_args()
    root = os.getcwd()
    classes = build(root)
    start = time.time()  # the deadline excludes a first run's build

    scratch = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(scratch, "inputs"), exist_ok=True)
    ind = inputs(os.path.join(scratch, "inputs"), a.workload, a.seed, a.scale)
    work = os.path.join(scratch, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(a, classes, ind, work, start)
        if a.trace:  # the spans outlive the run directory
            os.makedirs(os.path.join(scratch, "spans"), exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"),
                        os.path.join(scratch, "spans", f"{a.workload}-s{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    e2e = dict(res["e2e"])
    expected = json.load(open(os.path.join(ind, "expected.json")))
    if a.workload == "etl_nightly":
        fails, quality, checked = res.pop("etl_checks")
        attempted += len(checked)
        failed += len(fails)
        errors += fails
        e2e.update(quality)
        res["checked"] += [f"fingerprint.{k}" for k in checked]

    metrics = res["layers"] if a.trace else e2e
    units = metric_units("per_layer" if a.trace else "end_to_end")
    missing = [m for m in units if m not in metrics or metrics[m] is None]
    if missing:
        fail(f"metrics not produced: {missing}")
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(f"workload={a.workload} seed={a.seed} passes={res['passes']} "
          f"setup_s={res['setup_s_all']} pass_s={res['pass_s']} input_rows={expected['input_rows']}")
    for k, v in res["notes"].items():
        if k not in units:
            print(f"  {k}: {v}")
    for m, u in units.items():
        note = res["notes"].get(m, "")
        print(f"  {m:32s} {metrics[m]:>16.6g} {u}  {note}")
    out = {"correct": failed == 0 and not errors, "attempted": int(attempted), "failed": int(failed),
           "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()}}
    if a.report:
        with open(a.report, "w") as f:
            json.dump({"result": out, "detail": res}, f, indent=1)
    print(json.dumps(out))


def run_jvm(a, classes, ind, work, start):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    out = os.path.join(work, "result.json")
    # the throughput collector: G1's adaptive young-generation sizing
    # showed 30% single-pass stalls that the parallel collector did not
    # temporary files stay in the run directory (no /tmp perf data)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *JVM_OPENS, "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}", "perfbench.Main",
           "--workload", a.workload, "--inputs", os.path.join(ind, "data"),
           "--work", work, "--expected", os.path.join(ind, "expected.json"),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
           "--cores", str(len(os.sched_getaffinity(0))), "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"engine run failed ({rc})", code=3)
    res = json.load(open(out))
    if a.workload == "etl_nightly":
        res["etl_checks"] = oracle.etl_verify_outputs(
            os.path.join(ind, "data"), os.path.join(work, "out"),
            json.load(open(os.path.join(ind, "expected.json"))))
    return res


if __name__ == "__main__":
    main()
