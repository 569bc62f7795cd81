#!/usr/bin/env python3
"""graft's benchmark: one command, one workload per JVM.

    python3 perfbench/run.py --workload tpcdi_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run in a checkout builds graft and
the harness with sbt (offline) and records the classpath under
`$CARGO_TARGET_DIR` (default `.bench_build`). Every run then

  1. verifies the fingerprint of its inputs, the project's seed-42 sf0.01
     testdata kept under `perfbench/data/` (`--seed` drives only the query
     order, the ingest feed's permutation and its embeddings),
  2. starts one JVM, `local[nproc]`, one client thread, with an empty
     `java.io.tmpdir` cache root that is deleted afterwards,
  3. checks every op's output outside its timed window against
     `perfbench/expected.json`: digests cross-checked with DuckDB running
     each query's oracle SQL; self-audit flags; the ingest's published
     state,
  4. prints every metric with its unit, then one JSON line.

`--record` (not part of a benchmark check) cross-checks this run's outputs
with DuckDB and writes what it verified into `expected.json`.

`--trace 0` reports the end-to-end metrics; `--trace 1` turns the Spark
listener and spans on and reports the per-layer metrics instead, writing the
spans and their self times to `<build dir>/traces/`.
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

import layers  # noqa: E402

# The inputs: the project's seed-42 testdata at sf0.01 (60,000 lineitem rows,
# 500 documents). sf0.1 does not fit a benchmark check's time budget (NOTES.md).
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
# A fixed heap (-Xms = -Xmx) makes peak RSS the heap plus native memory, not
# a function of when G1 chose to grow.
DRIVER_HEAP = "1g"
# -XX:-UsePerfData keeps the JVM from writing hsperfdata outside the checkout.
JVM_FLAGS = ["-XX:-UsePerfData"]
# Wall limits of one invocation: a run ends within RUN_LIMIT_S, or within
# FIRST_RUN_LIMIT_S when it also builds; the JVM gets what is left of that
# after the build, less a margin for the checks after it.
RUN_LIMIT_S = 180
FIRST_RUN_LIMIT_S = 900
BUILD_TIMEOUT_S = 780
CHECK_MARGIN_S = 12
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "perfbench/harness/build.sbt"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def tree_hash(root, rels):
    """SHA-256 over every file under `rels` (paths and bytes), skipping
    build output directories."""
    h = hashlib.sha256()
    for rel in rels:
        base = os.path.join(root, rel)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            for f in fs if "/target" not in d[len(root):])
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile graft and the harness once per source tree; return the
    runtime classpath and whether this call built it."""
    stamp = tree_hash(root, ["build.sbt", "project/build.properties", "src/main",
                             "perfbench/harness/build.sbt",
                             "perfbench/harness/project/build.properties",
                             "perfbench/harness/src"])
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp and all(os.path.exists(e) for e in cp.strip().split(":")):
            return cp.strip(), False
    # sbt's own temp files stay inside the checkout too
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt, offline) ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        raise BenchError("build failed:\n" + "\n".join(lines[-30:]))
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cps[-1])
    return cps[-1], True


def fingerprint(data_dir):
    """SHA-256 of every input table."""
    out = {}
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(data_dir, f), "rb") as fh:
                out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh)


def save_expected(expected):
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def run_jvm(root, cp, args, work, timeout):
    """Run the harness in its own JVM (killed after `timeout` seconds);
    return its result document."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    heap = layers.WORKLOADS[args.workload].get("heap", DRIVER_HEAP)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--data", DATA,
              "--work", work, "--seed", str(args.seed),
              "--seconds", str(args.seconds),
              "--min-ops", str(layers.WORKLOADS[args.workload]["min_ops"]),
              "--trace", str(args.trace),
              "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness exceeded {timeout:.0f} s")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = [l for l in fh.read().splitlines() if " WARN " not in l][-25:]
        raise BenchError(f"harness exited {rc}:\n" + "\n".join(tail))
    with open(out) as fh:
        return json.load(fh)


def record(workload, res, work, expected):
    """Record what this run's outputs are expected to be, after checking them
    against DuckDB: batch query digests, the ingest's per-doc gate decisions
    and its published state for this seed and batch count."""
    if layers.WORKLOADS[workload]["kind"] == "batch":
        layers.record_queries(res, work, DATA, expected)
        return
    layers.record_doc_gates(res, DATA, expected)
    if not layers.ingest_problems(res, expected, layers.doc_texts(DATA)) \
            and not res["ingest"]["problems"]:
        r = res["ingest"]
        expected.setdefault("ingest", {})[layers.ingest_key(res)] = {
            "published_digest": r["published_digest"], "decisions": r["decisions"]}


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(layers.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="cross-check this run's outputs with DuckDB and record them "
                         "as expected in expected.json")
    args = ap.parse_args(argv)
    started = time.time()

    root = os.getcwd()
    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(root, r))]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); run from the repository root")
        return 2
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    work = os.path.join(out, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        expected = load_expected()
        inputs = fingerprint(DATA)
        if args.record and "inputs" not in expected:
            expected["inputs"] = inputs
        inputs_ok = inputs == expected.get("inputs")
        cp, built = build(root, out)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        t0 = time.time()
        limit = layers.WORKLOADS[args.workload].get(
            "run_limit_s", FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)
        res = run_jvm(root, cp, args, work, limit - CHECK_MARGIN_S - (t0 - started))
        log(f"harness JVM ran {time.time() - t0:.1f} s")
        if args.record:
            record(args.workload, res, work, expected)
        report = layers.report(args.workload, res, work, expected, inputs_ok,
                               bool(args.trace), DATA)
        if args.record and report["correct"]:
            save_expected(expected)
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        log(f"benchmark failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = dict(res["env"], git_sha=git_sha(root), source_sha256=tree_hash(root, ["src/main"]),
               inputs=os.path.relpath(DATA, root),
               driver_heap=layers.WORKLOADS[args.workload].get("heap", DRIVER_HEAP))
    if args.trace:
        trace_dir = os.path.join(out, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"env": env, "spans": res["spans"], "self_s": report["self_s"],
                       "per_op": report["per_op"]}, fh)
        log(f"spans written to {path}")
    for op, row in report["per_op"].items():
        log(f"op {op}: " + " ".join(f"{k}={v:.3f}" for k, v in row.items()
                                  if isinstance(v, float) and k.startswith(("exec_s", "construct_s"))))
    for problem in report["problems"]:
        log(f"CHECK FAILED: {problem}")
    log(json.dumps({"env": env}))
    for name, m in report["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'ops (the samples behind op_p50_s)':40s} {report['attempted']:>16d} ops, "
          f"{report['failed']} failed")
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
