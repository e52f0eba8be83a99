#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source (first run only), makes
the workload's inputs from the seed, runs one JVM (set-up, correctness
dump, timed passes: as many whole passes of the workload's nominal length
as fit in --seconds, at least one), checks the outputs, and prints the
metrics. The last stdout line is one JSON object: correct, attempted,
failed, metrics. --trace 1 registers the listeners and prints the
per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import inspect
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import fixtures  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "4g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for pattern in ("src/main/scala/**/*.scala", "perfbench/src/**/*.scala", "perfbench/*.sbt"):
        if any(os.path.getmtime(f) > t for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            return True
    return False


def build():
    """Compiles engine + harness with the harness's own sbt build and
    returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if not os.path.exists(cp_file) or sources_newer_than(cp_file):
        log("building engine and harness (sbt compile)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail("build failed")
    with open(cp_file) as f:
        return ":".join(line.strip() for line in f if line.strip())


def copy_tables(src, dst):
    """Private copy of a scale-factor directory, so index artifacts keyed
    by its path belong to this benchmark alone."""
    os.makedirs(dst, exist_ok=True)
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet") and not os.path.exists(os.path.join(dst, f)):
            shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
    return dst


def testdata_root():
    """The scale-factor tables' root, as scripts/check.py declares it."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    return inspect.signature(check.sweep).parameters["testdata_root"].default


def prepare_inputs(workload, spec, seed):
    """Returns (fixture dir, input rows, extra harness args)."""
    src = os.path.join(testdata_root(), spec["input"])
    if not os.path.isdir(src):
        fail(f"input tables not found at {src}")
    tables = copy_tables(src, os.path.join(WORK, "input", spec["input"]))
    if workload != "ais_stream":
        return tables, None, []
    out = os.path.join(WORK, "stream")
    shutil.rmtree(out, ignore_errors=True)
    sizes = fixtures.write_stream_fixture(os.path.join(tables, "events.parquet"),
                                          spec["history_factor"], spec["slices"], seed, out)
    log(f"ais_stream slices (rows): {sizes}")
    return os.path.join(out, "fixture"), sum(sizes), [
        "--slices", os.path.join(out, "slices"), "--work", os.path.join(out, "run"),
        "--corpus-dir", tables]


def run_jvm(classpath, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=logf, env=env, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S}s")
    return rc


def oracle_gate(fixture, verify_out, names):
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), fixture, verify_out],
                       capture_output=True, text=True, timeout=120)
    return metrics.gate_verdicts(r.stdout, set(names))


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft/SparkEntry.scala", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the repository root")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f).get(a.workload)
    if spec is None:
        fail(f"unknown workload {a.workload}")

    classpath = build()
    os.makedirs(WORK, exist_ok=True)
    fixture, input_rows, extra = prepare_inputs(a.workload, spec, a.seed)
    verify_out = os.path.join(WORK, "verify")
    raw_path = os.path.join(WORK, "raw.json")
    shutil.rmtree(verify_out, ignore_errors=True)
    if os.path.exists(raw_path):
        os.remove(raw_path)
    names = spec["queries"]
    # A fixed pass count per window, from the workload's nominal pass
    # length: letting the measured pass length pick the count made fast
    # and slow runs measure different numbers of passes.
    passes = max(1, int(a.seconds // spec["nominal_pass_s"]))
    load_before = os.getloadavg()[0]
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--dir", fixture, "--queries", ",".join(names),
        "--seed", str(a.seed), "--passes", str(passes), "--trace", str(a.trace),
        "--out", raw_path,
        "--verify-out", verify_out] + extra)
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"harness JVM failed (exit {rc}); see {os.path.join(WORK, 'jvm.log')}")
    with open(raw_path) as f:
        raw = json.load(f)

    # --- correctness: oracle/rows-only gate over the Verify dump, set-up
    # and timed-pass errors, and stream/batch parity.
    checks = oracle_gate(fixture, verify_out, names)
    checks.update({f"setup:{n}": False for n in raw.get("setup_errors", {})})
    checks.update({f"parity:{k}": v for k, v in raw.get("parity", {}).items()})
    runs = [(q["name"], not q["error"]) for p in raw["passes"]
            for q in p.get("queries", p.get("twins", []))]
    attempted = len(checks) + len(runs)
    failed = sum(not ok for ok in checks.values()) + sum(not ok for _, ok in runs)
    for n, ok in list(checks.items()) + runs:
        if not ok:
            log(f"FAILED: {n}")

    samples = metrics.query_samples(raw)
    m = metrics.per_layer(raw) if a.trace else metrics.end_to_end(raw)
    print(f"workload={a.workload} seed={a.seed} passes={len(raw['passes'])} "
          f"query_samples={len(samples)} setups={len(raw['setup_s'])} "
          f"error_rate={failed / attempted:.4f} verify_s={raw.get('verify_s', 0):.2f} "
          f"loadavg={load_before:.2f}/{raw['loadavg_end']:.2f} cpu_probe_s={raw['cpu_probe_s']:.4f} "
          f"run_wall_s={time.time() - started:.1f}")
    if a.trace:
        layers = metrics.layer_residual(raw)
        print("layers: " + " ".join(f"{k}={v:.3f}" for k, v in layers.items()))
    if input_rows is not None:
        twins = len(raw["passes"][0]["twins"])
        wall = metrics.median([p["wall_s"] for p in raw["passes"]])
        print(f"stream_rows_per_s={input_rows * twins / wall:.1f}")
        for k in ("state_commit_s", "upsert_s"):
            if k in raw["passes"][-1]:
                print(f"streaming.{k}={raw['passes'][-1][k]:.3f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))
    shutil.rmtree(verify_out, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "stream"), ignore_errors=True)


if __name__ == "__main__":
    main()
