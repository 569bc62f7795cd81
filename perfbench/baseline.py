#!/usr/bin/env python3
"""Writes perfbench/BASELINE.md: one untraced and one traced run per
workload, the per-layer table by workload and by op, and the tracing
overhead (traced over untraced `op_p50_s`).

    python3 perfbench/baseline.py [--seed 1] [--seconds 1] [--ingest-seconds 60]
                                  [--workloads a,b]

`corpus_ingest` runs for `--ingest-seconds`, long enough to reach its
maintenance batches (compaction, vacuum, retrain every third batch).

Run from the repository root, like `run.py`.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}")
    env = next(json.loads(l)["env"] for l in p.stderr.splitlines() if l.startswith('{"env"'))
    return json.loads(p.stdout.strip().splitlines()[-1]), env


def fmt(v):
    if v == 0:
        return "0"
    if abs(v) >= 1000:
        return f"{v:,.0f}"
    return f"{v:.3g}" if abs(v) < 10 else f"{v:.1f}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--ingest-seconds", type=float, default=60)
    ap.add_argument("--workloads", default="tpcdi_etl,corpus_ingest,llm_curate")
    a = ap.parse_args()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    lines = ["# perfbench baseline", "",
             f"`python3 perfbench/baseline.py --seed {a.seed} --seconds {a.seconds:g} "
             f"--ingest-seconds {a.ingest_seconds:g}`: "
             "one untraced and one traced run per workload. Per-op rows are the "
             "traced run's; ops are passes (batch workloads, split by query) or "
             "micro-batches (`corpus_ingest`). Each figure is one run: on a shared "
             "4-core host two runs of the same code differ by about 10% (`spread.py`), "
             "as much as the tracing overhead.", ""]
    for w in a.workloads.split(","):
        secs = a.ingest_seconds if w == "corpus_ingest" else a.seconds
        plain, env = run(w, a.seed, secs, 0)
        traced, _ = run(w, a.seed, secs, 1)
        with open(os.path.join(out, "traces", f"{w}-seed{a.seed}.json")) as fh:
            trace = json.load(fh)
        m0 = {k: v["value"] for k, v in plain["metrics"].items()}
        m1 = {k: v["value"] for k, v in traced["metrics"].items()}
        overhead = m1["trace.op_p50_s"] / m0["op_p50_s"] - 1
        lines += [f"## {w} (`--seconds {secs:g}`)", "",
                  f"nproc {env['nproc']}, driver heap {env['driver_heap']}, {env['jvm']}, "
                  f"Spark {env['spark']}, Scala {env['scala']}, seed {env['seed']}, "
                  f"inputs `{env['inputs']}`, source sha256 `{env['source_sha256'][:12]}`, "
                  f"git `{env['git_sha'] or 'n/a'}`; correct: {plain['correct'] and traced['correct']}, "
                  f"ops attempted {plain['attempted']}, failed {plain['failed']}.", "",
                  "| end-to-end (untraced) | value |", "|---|---|"]
        lines += [f"| {k} ({plain['metrics'][k]['unit']}) | {fmt(v)} |" for k, v in m0.items()]
        lines += ["", f"Tracing overhead on `op_p50_s`: {overhead:+.1%} "
                  f"({fmt(m1['trace.op_p50_s'])} s traced vs {fmt(m0['op_p50_s'])} s).", "",
                  "| per layer (traced) | value | unit |", "|---|---|---|"]
        lines += [f"| {k} | {fmt(v)} | {traced['metrics'][k]['unit']} |" for k, v in m1.items()
                  if v != 0 and ".q_" not in k]
        per_op = trace["per_op"]
        if layers.WORKLOADS[w]["kind"] == "batch":
            qs = layers.WORKLOADS[w]["queries"]
            lines += ["", "| op / query | construct s | plan s | exec s | construct jobs | jobs | "
                      "shuffle write B | construct share |", "|---|---|---|---|---|---|---|---|"]
            for op, row in per_op.items():
                for q in qs:
                    c, p, e = row[f"construct_s.{q}"], row[f"plan_s.{q}"], row[f"exec_s.{q}"]
                    share = c / (c + p + e) if c + p + e else 0
                    lines.append(f"| {op} / {q} | {fmt(c)} | {fmt(p)} | {fmt(e)} | "
                                 f"{fmt(row[f'construct_jobs.{q}'])} | {fmt(row[f'jobs.{q}'])} | "
                                 f"{fmt(row[f'shuffle_write_bytes.{q}'])} | {share:.0%} |")
        else:
            lines += ["", "| op | wall s | addBatch s | jobs | tasks | task run s | "
                      "shuffle write B | maintenance |", "|---|---|---|---|---|---|---|---|"]
            for op, row in per_op.items():
                lines.append(f"| {op} | {fmt(row['wall_s'])} | {fmt(row['stream.add_batch_s'])} | "
                             f"{fmt(row['jobs'])} | {fmt(row['tasks'])} | {fmt(row['task_run_s'])} | "
                             f"{fmt(row['shuffle_write_bytes'])} | {', '.join(row['maint']) or '-'} |")
        lines += ["", "Self time by span name (s, summed over the traced run): " + ", ".join(
            f"{k} {fmt(v)}" for k, v in sorted(trace["self_s"].items(), key=lambda kv: -kv[1])), ""]
    with open(os.path.join(HERE, "BASELINE.md"), "w") as fh:
        fh.write("\n".join(lines))


if __name__ == "__main__":
    main()
