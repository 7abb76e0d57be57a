"""Turns the JVM runner's records into the benchmark's metrics.

Pure functions over the records file the runner writes (see
src/main/scala/graftbench/Main.scala); run.py owns processes and I/O.
"""
import math
import statistics

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "cpu_s_per_query": "s",
    "success_frac": "frac",
}

PER_LAYER = {
    "GraftSession.start_s": "s",
    "DfCache.build_s": "s",
    "DfCache.mem_bytes": "bytes",
    "DfCache.disk_bytes": "bytes",
    "DfCache.rdds_live": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "frac",
    "plans.plan_s": "s",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.rows_scanned_per_row_out": "ratio",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_bytes": "bytes",
    "exec.slot_busy_frac": "frac",
    "exec.task_failures": "count",
    "exec.unattributed_jobs": "count",
    "client.first_job_wait_s": "s",
    "self.query_s": "s",
    "self.operators_s": "s",
    "self.plans_s": "s",
    "self.exec_s": "s",
    "self.job_s": "s",
    "self.stage_s": "s",
    "trace.overhead_frac": "frac",
}

TAIL_SAMPLES = 10


def tail_percentile(n):
    """The highest whole percentile p in [51, 99] that leaves at least
    TAIL_SAMPLES of n samples beyond its nearest-rank value; 50 when n
    is too small for any, and the tail is then the median itself."""
    for p in range(99, 50, -1):
        if n - math.ceil(p * n / 100) >= TAIL_SAMPLES:
            return p
    return 50


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def check(queries, expected):
    """Marks each query record `failed` if it threw or its result does
    not match the expected fingerprint. `expected` maps a query to
    {"rows", "hash"}; queries listed in expected["row_count_only"] are
    checked on their row count. Without an expected entry a query's
    results must agree across its own runs. Returns the names that
    failed."""
    fps = expected.get("fingerprints", {})
    rows_only = expected.get("row_count_only", {})
    seen = {}
    bad = set()
    for q in queries:
        name = q["name"]
        ok = q.get("ok", False)
        if ok:
            got = (q["rows"], None if name in rows_only else q["hash"])
            want = fps.get(name)
            if want is not None:
                ok = got == (want["rows"], None if name in rows_only else want["hash"])
            else:
                ok = seen.setdefault(name, got) == got
        q["failed"] = not ok
        if not ok:
            bad.add(name)
    return sorted(bad)


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def calm_rounds(rounds):
    """The fastest third of the given rounds (at least one): the rounds
    the shared host disturbed least. Other tenants only ever slow a
    round down, so the fast rounds show what the program itself costs;
    a slowdown the program causes in every round shows in them in full."""
    return sorted(rounds, key=lambda r: r["wall_s"])[:max(1, math.ceil(len(rounds) / 3))]


def end_to_end(rec, rounds):
    """End-to-end metrics over the calm rounds among the given measured
    rounds; success_frac covers every checked query, warm rounds
    included. The detail holds the tail latency over every measured
    query, which is too few samples in the calm rounds to gate on."""
    calm = calm_rounds(rounds)
    ids = {r["round"] for r in calm}
    qs = [q for q in rec["queries"] if q["round"] in ids]
    done = sum(1 for q in qs if not q["failed"])
    checked = rec["queries"]
    values = {
        "setup_s": rec["setup_s"],
        "queries_per_s": done / sum(r["wall_s"] for r in calm),
        "query_p50_s": statistics.median(q["wall_s"] for q in qs),
        "cpu_s_per_query": sum(r["cpu_s"] for r in calm) / max(done, 1),
        "success_frac": sum(1 for q in checked if not q["failed"]) / len(checked),
    }
    all_ids = {r["round"] for r in rounds}
    lat = [q["wall_s"] for q in checked if q["round"] in all_ids]
    p = tail_percentile(len(lat))
    return values, {"calm_rounds": sorted(ids), "calm_samples": len(qs),
                    "query_tail_s": percentile(lat, p) if p > 50 else statistics.median(lat),
                    "tail_percentile": p, "tail_samples": len(lat),
                    "peak_rss_mb": rec["peak_rss_kb"] / 1024.0}


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it
    its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end_ns"] < 0:
            continue
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []) if c["end_ns"] >= 0)
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e9
    return out


def per_layer(rec, traced, untraced):
    """Per-layer metrics over the traced rounds, plus the tracing
    overhead against the untraced rounds of the same run."""
    ids = {r["round"] for r in traced}
    qs = [q for q in rec["queries"] if q["round"] in ids and q.get("ok")]
    units = [u for u in rec["units"] if u["round"] in ids]
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(root):
        todo, out = [root], []
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    tot = {}
    n_q = max(len(qs), 1)
    build_jobs, waits, rows_out = 0, [], 0
    for q in qs:
        qspan = by_id[q["span"]]
        sub = subtree(qspan)
        jobs = [s for s in sub if s["layer"] == "job"]
        for s in sub:
            for k, v in s["counts"].items():
                tot[k] = tot.get(k, 0.0) + v
        tot["jobs"] = tot.get("jobs", 0) + len(jobs)
        tot["stages"] = tot.get("stages", 0) + sum(1 for s in sub if s["layer"] == "stage")
        build_jobs += sum(1 for s in sub if s["layer"] == "job"
                          and by_id[s["parent"]]["layer"] == "operators")
        if jobs:
            waits.append((min(j["start_ns"] for j in jobs) - qspan["start_ns"]) / 1e9)
        rows_out += q["rows"]
    round_ids = {s["id"] for s in spans if s["layer"] == "round"}
    selfs = self_times([s for s in spans if s["layer"] not in ("run", "round")])
    wall = sum(r["wall_s"] for r in traced)
    q_wall = sum(q["wall_s"] for q in qs)
    t_q = _mean(q["wall_s"] for q in qs)
    u_ids = {r["round"] for r in untraced}
    u_q = [q["wall_s"] for q in rec["queries"] if q["round"] in u_ids and q.get("ok")]
    stage_spans = [s for s in spans if s["layer"] == "stage"]
    values = {
        "GraftSession.start_s": rec["start_s"],
        "DfCache.build_s": _mean(u["dfcache_build_s"] for u in units),
        "DfCache.mem_bytes": _mean(u["mem_bytes"] for u in units),
        "DfCache.disk_bytes": _mean(u["disk_bytes"] for u in units),
        "DfCache.rdds_live": _mean(u["rdds_live"] for u in units),
        "operators.build_s": _mean(q["build_s"] for q in qs),
        "operators.build_jobs": build_jobs / n_q,
        "operators.build_share": sum(q["build_s"] for q in qs) / q_wall if q_wall else 0.0,
        "plans.plan_s": _mean(q["plan_s"] for q in qs),
        "plans.analysis_s": _mean(q["analysis_s"] for q in qs),
        "plans.optimization_s": _mean(q["optimization_s"] for q in qs),
        "plans.planning_s": _mean(q["planning_s"] for q in qs),
        "sources.scan_bytes": tot.get("scan_bytes", 0.0) / n_q,
        "sources.scan_rows": tot.get("scan_rows", 0.0) / n_q,
        "sources.rows_scanned_per_row_out": tot.get("scan_rows", 0.0) / max(rows_out, 1),
        "exec.action_s": _mean(q["action_s"] for q in qs),
        "exec.jobs": tot.get("jobs", 0) / n_q,
        "exec.stages": tot.get("stages", 0) / n_q,
        "exec.tasks": tot.get("tasks", 0.0) / n_q,
        "exec.task_run_s": tot.get("task_run_s", 0.0) / n_q,
        "exec.task_cpu_s": tot.get("task_cpu_s", 0.0) / n_q,
        "exec.gc_s": tot.get("gc_s", 0.0) / n_q,
        "exec.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0.0) / n_q,
        "exec.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0.0) / n_q,
        "exec.spill_bytes": tot.get("spill_bytes", 0.0) / n_q,
        "exec.peak_exec_mem_bytes": max((s["counts"].get("peak_exec_mem_bytes", 0.0)
                                        for s in stage_spans), default=0.0),
        "exec.slot_busy_frac": sum(s["counts"].get("task_run_s", 0.0) for s in stage_spans)
        / (wall * rec["cores"]) if wall else 0.0,
        "exec.task_failures": sum(s["counts"].get(k, 0.0) for s in spans
                                  for k in ("task_failures", "stage_retries", "job_failures")),
        "exec.unattributed_jobs": sum(1 for s in spans if s["layer"] == "job"
                                      and (s["parent"] == 0 or s["parent"] in round_ids)),
        "client.first_job_wait_s": _mean(waits),
        "trace.overhead_frac": t_q / _mean(u_q) - 1.0 if u_q and t_q else 0.0,
    }
    for layer in ("query", "operators", "plans", "exec", "job", "stage"):
        values[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n_q
    return values, {"self_s": selfs}
