"""Turns one harness result into the benchmark's metrics.

The workloads, the metric catalogue (name -> unit, direction) and the
checks that decide whether an op counts as failed all live here; the
arithmetic is in `stats.py`.
"""
import hashlib
import os

import stats

TPCDI = ["q_warehouse_etl", "q_cdc_apply", "q_cdc_scd2", "q_join_range_scd2",
         "q_scan_csv", "q_scan_fixedwidth", "q_audit_referential",
         "q_batch_validation"]
LLM = ["q_corpus_curate", "q_curation_audit", "q_dedup_keep", "q_semdedup",
       "q_knn_batch_ivfpq", "q_bm25", "q_substring_excise", "q_graph_triangles",
       "q_pagerank"]

# The tables each query reads: its stated input rows are their row counts.
# q_scan_fixedwidth renders its own 3,000-line FINWIRE corpus.
QUERY_INPUTS = {
    "q_warehouse_etl": ["customer", "supplier", "part", "orders", "region", "lineitem"],
    "q_cdc_apply": ["events"],
    "q_cdc_scd2": ["events"],
    "q_join_range_scd2": ["lineitem", "orders"],
    "q_scan_csv": ["lineitem"],
    "q_scan_fixedwidth": [],
    "q_audit_referential": ["customer", "orders", "lineitem"],
    "q_batch_validation": ["customer", "orders", "lineitem", "supplier", "part"],
    "q_corpus_curate": ["documents"],
    "q_curation_audit": ["documents"],
    "q_dedup_keep": ["documents"],
    "q_semdedup": ["embeddings"],
    "q_knn_batch_ivfpq": ["embeddings"],
    "q_bm25": ["documents"],
    "q_substring_excise": ["documents"],
    "q_graph_triangles": ["documents"],
    "q_pagerank": ["lineitem"],
}
FIXED_INPUT_ROWS = {"q_scan_fixedwidth": 3000}

# min_ops: ops every run measures however short --seconds is, so the
# sample count never flips with host speed.
WORKLOADS = {
    "tpcdi_etl": {"kind": "batch", "queries": TPCDI, "min_ops": 1},
    # micro-batches 1 and 2 append, 3 also compacts, vacuums and retrains
    "corpus_ingest": {"kind": "ingest", "min_ops": 3},
    # Runnable for the per-layer table, but not in BENCHMARK.json: one run
    # takes minutes, too long to repeat per check (NOTES.md).
    "llm_curate": {"kind": "batch", "queries": LLM, "min_ops": 1, "run_limit_s": 600,
                   "heap": "2g"},
}

END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "op_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

EXEC = {
    "exec_s": ("s", "lower"), "jobs": ("count", "lower"),
    "stages": ("count", "lower"), "tasks": ("count", "lower"),
    "task_run_s": ("s", "lower"), "task_cpu_s": ("s", "lower"),
    "core_busy_frac": ("ratio", "higher"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_fetch_wait_s": ("s", "lower"), "spill_bytes": ("bytes", "lower"),
    "gc_s": ("s", "lower"),
}
PER_LAYER = dict(
    {"construct_s": ("s", "lower"), "construct_jobs": ("count", "lower"),
     "checkpoint_jobs": ("count", "lower"), "plan_s": ("s", "lower")},
    **EXEC,
    **{f"{m}.{q}": u for q in TPCDI for m, u in [
        ("construct_s", ("s", "lower")), ("construct_jobs", ("count", "lower")),
        ("exec_s", ("s", "lower")), ("jobs", ("count", "lower")),
        ("shuffle_write_bytes", ("bytes", "lower"))]},
    **{"stream.add_batch_s": ("s", "lower"), "stream.wal_commit_s": ("s", "lower"),
       "stream.commit_offsets_s": ("s", "lower"),
       "stream.batch_jobs": ("count", "lower"),
       "storage.bytes_written_per_doc": ("bytes", "lower"),
       "storage.read_bytes_per_doc": ("bytes", "lower"),
       "storage.write_amp": ("ratio", "lower"),
       "storage.space_amp": ("ratio", "lower"),
       "storage.files_live": ("count", "lower"),
       "storage.batch_growth": ("ratio", "lower"),
       "storage.maint_op_p50_s": ("s", "lower"),
       "storage.compact_batch_s": ("s", "lower"),
       "storage.retrain_batch_s": ("s", "lower"),
       "setup.session_s": ("s", "lower"), "setup.cold_pass_s": ("s", "lower"),
       "ops.failed_frac": ("ratio", "lower"),
       "trace.op_p50_s": ("s", "lower"), "self.op_s": ("s", "lower")})


def table_rows(data_dir):
    import pyarrow.parquet as pq
    return {f[:-8]: pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
            for f in os.listdir(data_dir) if f.endswith(".parquet")}


def input_rows(query, rows):
    return FIXED_INPUT_ROWS.get(query, 0) + sum(rows[t] for t in QUERY_INPUTS.get(query, []))


def digest_table(tbl):
    return stats.digest(tbl.column_names, tbl.to_pylist())


def output_digest(path):
    import pyarrow.parquet as pq
    return digest_table(pq.read_table(path))


def duckdb_digests(sqls, data_dir):
    """Digest and row count of each oracle SQL's result, DuckDB over the
    input tables."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    out = {}
    for q, sql in sorted(sqls.items()):
        tbl = con.execute(sql).fetch_arrow_table()
        out[q] = {"digest": digest_table(tbl), "rows": tbl.num_rows, "table": tbl}
    return out


def output_problems(res, work, expected):
    """Per op, the checked queries (those with an oracle) whose output is
    missing or whose digest differs from the expected one."""
    exp = expected.get("queries", {})
    bad = {}
    for p in res["ops"]:
        for x in p["parts"]:
            q = x["query"]
            if x["error"] or q not in res["oracle_sql"]:
                continue
            path = os.path.join(work, "out", p["op"], q)
            if q not in exp:
                msg = f"{q}: no expected digest in expected.json"
            elif not os.path.isdir(path):
                msg = f"{q}: output not written"
            elif output_digest(path) != exp[q]["digest"]:
                msg = f"{q} ({p['op']}): output digest differs from the expected one"
            else:
                continue
            bad.setdefault(p["op"], []).append(msg)
    return bad


def record_queries(res, work, data_dir, expected):
    """Cross-check every checked query's outputs in this run against DuckDB
    running its oracle SQL, and record the agreed digest as expected."""
    duck = duckdb_digests(res["oracle_sql"], data_dir)
    for q, d in duck.items():
        got = {output_digest(os.path.join(work, "out", p["op"], q)) for p in res["ops"]}
        if got != {d["digest"]}:
            raise ValueError(f"{q}: Spark output differs from the DuckDB oracle")
        expected.setdefault("queries", {})[q] = {"digest": d["digest"], "rows": d["rows"]}


MAP_GATES = ("holdout_excluded", "quality_gate", "repetition_filter")


def record_doc_gates(res, data_dir, expected):
    """Each document's map-side gate decision, from DuckDB running the batch
    funnel's per-doc oracle: the stream applies the same gates per doc,
    whatever order the documents arrive in. Derived again only when the
    oracle SQL changed."""
    sql = res["oracle_sql"]["q_curation_audit"]
    key = hashlib.sha256(sql.encode()).hexdigest()
    if expected.get("doc_gates_sql_sha256") == key:
        return
    tbl = duckdb_digests({"q_curation_audit": sql}, data_dir)["q_curation_audit"]["table"]
    expected["doc_gates"] = {str(r["doc_id"]): r["drop_stage"] for r in tbl.to_pylist()
                             if r["drop_stage"] in MAP_GATES}
    expected["doc_gates_sql_sha256"] = key


def ingest_key(res):
    return f"{res['env']['seed']}:{len(res['fed'])}"


def ingest_problems(res, expected, texts):
    """Checks of the stream's end state against what is known independently
    of it: every fed doc the batch funnel's oracle gates out (holdout,
    quality, repetition) carries that decision, every other fed doc is
    admitted or a near duplicate, no two admitted docs have the same text,
    and, where this seed and batch count were recorded, the published
    doc_id set and the decision counts are the recorded ones."""
    r = res["ingest"]
    gates = expected.get("doc_gates")
    if gates is None:
        return ["no per-doc gate decisions in expected.json"]
    decided = {d: dec for d, dec in r["audit"]}
    problems = []
    fed = [d for b in res["fed"] for d in b]
    wrong = [d for d in fed
             if (decided.get(d) != gates[str(d)] if str(d) in gates
                 else decided.get(d) not in ("admitted", "near_dup"))]
    if wrong:
        problems.append(f"{len(wrong)} fed docs decided unlike the funnel oracle, "
                        f"e.g. doc {wrong[0]}: {decided.get(wrong[0])}")
    admitted_texts = [texts[d] for d in fed if decided.get(d) == "admitted"]
    if len(set(admitted_texts)) != len(admitted_texts):
        problems.append("two admitted docs have the same text")
    rec = expected.get("ingest", {}).get(ingest_key(res))
    if rec and (rec["published_digest"] != r["published_digest"]
                or rec["decisions"] != r["decisions"]):
        problems.append(f"published state differs from the one recorded for "
                        f"seed:batches {ingest_key(res)}")
    return problems


def _median(xs):
    return stats.p50(xs)[0] if xs else 0.0


def _sum_counters(counters, prefix):
    tot = {}
    for k, c in counters.items():
        if k == prefix or k.startswith(prefix + "/"):
            for m, v in c.items():
                tot[m] = tot.get(m, 0.0) + v
    return tot


def _self_by_op(spans):
    """Per op, the self time of its root span (time in the op that no
    layer span covers)."""
    selfs = stats.self_times(spans)
    return {s["op"]: selfs[s["id"]] for s in spans if s["parent"] == -1}


def _finish(workload, e2e, layer, problems, attempted, failed, trace, extra):
    metrics = {}
    if trace:
        names = list(PER_LAYER)
        if workload == "llm_curate":
            names += [n for n in layer if n not in PER_LAYER]
        units = dict(PER_LAYER, **{n: (_unit_of(n), "lower") for n in names if n not in PER_LAYER})
        for n in names:
            metrics[n] = {"value": float(layer.get(n, 0.0)), "unit": units[n][0]}
    else:
        for n, (unit, _) in END_TO_END.items():
            metrics[n] = {"value": float(e2e[n]), "unit": unit}
    return dict(metrics=metrics, problems=problems, attempted=attempted,
                failed=failed, correct=not problems and failed == 0, **extra)


def _unit_of(name):
    base = name.split(".")[0]
    return (PER_LAYER.get(base) or EXEC.get(base) or ("count", ""))[0]


def batch_report(workload, res, bad, inputs_ok, trace, data_dir):
    """`bad` maps an op to its output-check failures (`output_problems`)."""
    rows = table_rows(data_dir)
    problems = []
    if not inputs_ok:
        problems.append("input fingerprint differs from the one in expected.json")
    problems += [p["error"] for p in res["cold_parts"] if p["error"]]
    passes = res["ops"]
    nproc = res["env"]["nproc"]
    failed = 0
    ok_rows = ok_wall = 0.0
    for p in passes:
        errs = [x["error"] for x in p["parts"] if x["error"]] + bad.get(p["op"], [])
        if errs or not inputs_ok:
            failed += 1
            problems += errs
        else:
            ok_rows += sum(input_rows(x["query"], rows) for x in p["parts"])
            ok_wall += p["wall_s"]
    walls = [p["wall_s"] for p in passes]
    op_p50, _ = stats.p50(walls)
    e2e = {"setup_s": res["setup_s"],
           "rows_per_s": ok_rows / ok_wall if ok_wall else 0.0,
           "op_p50_s": op_p50, "peak_rss_mb": res["peak_rss_mb"]}

    counters = res.get("counters", {})
    per_pass = []
    per_op = {}
    selfs = _self_by_op(res.get("spans", []))
    for p in passes:
        c = _sum_counters(counters, p["op"])
        row = {"construct_s": sum(x["construct_s"] for x in p["parts"]),
               "plan_s": sum(x["tracker_plan_s"] for x in p["parts"]),
               "exec_s": sum(x["exec_s"] for x in p["parts"]),
               "self.op_s": selfs.get(p["op"], 0.0)}
        for m in list(EXEC) + ["construct_jobs", "checkpoint_jobs"]:
            if m not in row and m != "core_busy_frac":
                row[m] = c.get(m, 0.0)
        row["core_busy_frac"] = c.get("task_run_s", 0.0) / (p["wall_s"] * nproc) if p["wall_s"] else 0.0
        for x in p["parts"]:
            qc = counters.get(x["op"], {})
            q = x["query"]
            row[f"construct_s.{q}"] = x["construct_s"]
            row[f"exec_s.{q}"] = x["exec_s"]
            row[f"plan_s.{q}"] = x["tracker_plan_s"]
            for m in ("construct_jobs", "jobs", "shuffle_write_bytes", "checkpoint_jobs"):
                row[f"{m}.{q}"] = qc.get(m, 0.0)
        per_pass.append(row)
        per_op[p["op"]] = row
    layer = {k: _median([r[k] for r in per_pass]) for k in (per_pass[0] if per_pass else {})}
    layer.update({"setup.session_s": res["session_s"],
                  "setup.cold_pass_s": res["cold_pass_s"],
                  "ops.failed_frac": stats.failed_frac(len(passes), failed),
                  "trace.op_p50_s": op_p50})
    self_s = {}
    if res.get("spans"):
        st = stats.self_times(res["spans"])
        for s in res["spans"]:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + st[s["id"]]
    return _finish(workload, e2e, layer, problems, len(passes), failed, trace,
                   {"self_s": self_s, "per_op": per_op})


def ingest_report(workload, res, state_problems, inputs_ok, trace):
    """`state_problems` are the end-state checks' failures (`ingest_problems`)."""
    r = res["ingest"]
    batches = r["batches"]
    problems = list(r["problems"]) + list(state_problems)
    problems += [b["error"] for b in res["setup_batches"] if b["error"]]
    if not inputs_ok:
        problems.append("input fingerprint differs from the one in expected.json")
    # the final-state checks cover the whole stream: if they fail, every
    # batch that built that state counts as failed
    state_bad = bool(r["problems"]) or bool(state_problems) or not inputs_ok
    failed = 0
    ok_docs = ok_wall = 0.0
    for b in batches:
        if b["error"] or state_bad:
            failed += 1
            if b["error"]:
                problems.append(b["error"])
        else:
            ok_docs += b["docs"]
            ok_wall += b["wall_s"]
    walls = [b["wall_s"] for b in batches]
    op_p50, _ = stats.p50(walls)
    e2e = {"setup_s": res["setup_s"],
           "rows_per_s": ok_docs / ok_wall if ok_wall else 0.0,
           "op_p50_s": op_p50, "peak_rss_mb": res["peak_rss_mb"]}

    counters = res.get("counters", {})
    selfs = _self_by_op(res.get("spans", []))
    nproc = res["env"]["nproc"]
    per_op = {}
    for b in batches:
        c = counters.get(b["op"], {})
        row = {m: c.get(m, 0.0) for m in EXEC if m not in ("exec_s", "core_busy_frac")}
        row.update({"exec_s": b["wall_s"], "input_bytes": c.get("input_bytes", 0.0),
                    "core_busy_frac": c.get("task_run_s", 0.0) / (b["wall_s"] * nproc),
                    "stream.add_batch_s": b["phases"].get("addBatch", 0.0),
                    "stream.wal_commit_s": b["phases"].get("walCommit", 0.0),
                    "stream.commit_offsets_s": b["phases"].get("commitOffsets", 0.0),
                    "stream.batch_jobs": c.get("jobs", 0.0),
                    "self.op_s": selfs.get(b["op"], 0.0)})
        per_op[b["op"]] = dict(row, wall_s=b["wall_s"], maint=b["maint"])
    rows = list(per_op.values())
    layer = {k: _median([x[k] for x in rows]) for k in (rows[0] if rows else {})
             if k not in ("wall_s", "maint")}
    st = r["storage"]
    docs = st["docs"]
    logical = docs * st["fed_doc_bytes_mean"]
    appends = [b["wall_s"] for b in batches if not b["maint"]]
    half = len(appends) // 2
    maint = [b["wall_s"] for b in batches if b["maint"]]
    layer.update({
        "storage.bytes_written_per_doc": st["bytes_written"] / docs if docs else 0.0,
        "storage.read_bytes_per_doc": sum(x["input_bytes"] for x in rows) / docs if docs else 0.0,
        "storage.write_amp": st["bytes_written"] / logical if logical else 0.0,
        "storage.space_amp": st["live_bytes"] / logical if logical else 0.0,
        "storage.files_live": st["files_live"],
        "storage.batch_growth": (_median(appends[-half:]) / _median(appends[:half])
                                 if half else 1.0),
        "storage.maint_op_p50_s": _median(maint),
        "storage.compact_batch_s": _median([b["wall_s"] for b in batches if "compact" in b["maint"]]),
        "storage.retrain_batch_s": _median([b["wall_s"] for b in batches if "retrain" in b["maint"]]),
        "setup.session_s": res["session_s"],
        "setup.cold_pass_s": res["cold_pass_s"],
        "ops.failed_frac": stats.failed_frac(len(batches), failed),
        "trace.op_p50_s": op_p50})
    self_s = {}
    if res.get("spans"):
        stt = stats.self_times(res["spans"])
        for s in res["spans"]:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + stt[s["id"]]
    extra = {"self_s": self_s, "per_op": per_op,
             "ingest_state": {"published": r["published"], "decisions": r["decisions"],
                              "published_digest": r["published_digest"]}}
    return _finish(workload, e2e, layer, problems, len(batches), failed, trace, extra)


def doc_texts(data_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def report(workload, res, work, expected, inputs_ok, trace, data_dir):
    if WORKLOADS[workload]["kind"] == "batch":
        return batch_report(workload, res, output_problems(res, work, expected),
                            inputs_ok, trace, data_dir)
    return ingest_report(workload, res, ingest_problems(res, expected, doc_texts(data_dir)),
                         inputs_ok, trace)
