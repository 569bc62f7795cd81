#!/usr/bin/env python3
"""Per-execution timeline of one streaming micro-batch, from a Spark event log.

    python3 tools/sql_timeline.py <event log file> <batch id>

The event log is one `events_*` file written with `spark.eventLog.enabled=true`
(zstd-compressed files are read through `zstd -dc`). A micro-batch's SQL
executions are the ones whose jobs carry its `streaming.sql.batchId` local
property, grouped under their root execution (one per stream that ran that
batch id). For each execution it prints the start offset from the root's
start, its wall, its job count and what it runs (the table a write lands in,
or the root operator and the first location it scans), so effects that
overlap show as rows whose [start, start + wall) intervals intersect. Jobs
outside any SQL execution (an eager checkpoint's) are not listed.
"""
import collections
import json
import re
import subprocess
import sys


def events(path):
    if path.endswith(".zstd"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True).stdout.decode()
        lines = out.splitlines()
    else:
        with open(path) as f:
            lines = f.read().splitlines()
    for line in lines:
        if line.strip():
            yield json.loads(line)


def tail(path, n=3):
    return "/".join(path.rstrip("/").split("/")[-n:])


def label(plan):
    """The execution's root operator; for a write, the table it writes, and
    otherwise the first file location it scans."""
    lines = (plan or "").splitlines()
    top = re.sub(r"\s*\(\d+\)$", "", lines[1]).strip(" *+-") if len(lines) > 1 else "?"
    out = re.search(r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: file:([^,]+),", plan or "")
    if out:
        return "write " + tail(out.group(1))
    loc = re.search(r"Location: \w+ \[file:([^,\]]+)", plan or "")
    return top + (" " + tail(loc.group(1)) if loc else "")


def main(path, batch):
    execs, jobs = {}, collections.Counter()
    tagged_roots = collections.defaultdict(set)
    for e in events(path):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            execs[e["executionId"]] = {"root": e.get("rootExecutionId", e["executionId"]),
                                       "start": e["time"], "end": None,
                                       "what": label(e.get("physicalPlanDescription"))}
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            if eid is None:
                continue
            jobs[int(eid)] += 1
            if props.get("streaming.sql.batchId") == str(batch):
                tagged_roots[props.get("perfbench.round", "")].add(int(eid))
    if not tagged_roots:
        sys.exit("no job carries streaming.sql.batchId=%s" % batch)
    for round_, ids in sorted(tagged_roots.items()):
        roots = {execs[i]["root"] for i in ids if i in execs}
        for root in sorted(roots):
            rows = sorted(((i, x) for i, x in execs.items()
                           if x["root"] == root and i != root and x["end"] is not None),
                          key=lambda ix: ix[1]["start"])
            t0 = execs[root]["start"] if root in execs else rows[0][1]["start"]
            print("batch %s%s, root execution %d: %d executions, %d jobs"
                  % (batch, " round " + round_ if round_ else "", root, len(rows),
                     sum(jobs[i] for i, _ in rows)))
            print("%9s %8s %5s  %s" % ("start_ms", "wall_ms", "jobs", "execution"))
            for i, x in rows:
                print("%9d %8d %5d  %s" % (x["start"] - t0, x["end"] - x["start"],
                                           jobs[i], x["what"]))

if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
