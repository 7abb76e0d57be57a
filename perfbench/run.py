#!/usr/bin/env python3
"""graft benchmark: runs one workload, checks every result, prints every metric.

    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 12 --trace 0

Run from the repository root; see perfbench/README.md. Builds graft and
the JVM runner on first use, runs it in one JVM, and prints a
run stamp line and then, last, {"correct", "attempted", "failed",
"metrics"}: end-to-end metrics with --trace 0, per-layer ones with
--trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
WORK_DIR = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, "out")
DEFAULT_DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_digest():
    h = hashlib.sha256(ROOT.encode())  # the cached classpath holds absolute paths
    roots = [GRAFT_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the runner when a source changed; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "graftbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        s = load_json(stamp)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, text=True, timeout=800)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half the memory, 2 to 8 GiB."""
    g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = min(max(int(line.split()[1]) // 2097152, 2), 8)
    return f"{g}g"


def spark_cores():
    """Task slots for Spark: half the CPUs, so that the task threads, the
    driver and the JVM's JIT compiler and GC threads together do not ask
    for more CPUs than the host gives (beyond that a run measures the
    scheduler and the other tenants, not graft)."""
    return max(1, (os.cpu_count() or 2) // 2)


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


class HostSampler(threading.Thread):
    """Samples the 1-minute load average every second during the run."""

    def __init__(self):
        super().__init__(daemon=True)
        self.loads, self.stop = [], threading.Event()

    def run(self):
        while not self.stop.wait(1.0):
            with open("/proc/loadavg") as f:
                self.loads.append(float(f.read().split()[0]))


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def workload_conf(name):
    ws = load_json(os.path.join(HERE, "workloads.json"))
    w = ws[name]
    queries = [q for part in w.get("queries_of", [name]) for q in ws[part]["queries"]] \
        if "queries_of" in w else w["queries"]
    clients = os.cpu_count() if w["clients"] == "nproc" else int(w["clients"])
    return queries, w.get("tables", []), w.get("reports", False), clients, w["round_s"], w["warm"]


def run_jvm(cp, args, work):
    """Runs the runner in its own process group and returns its records."""
    out = os.path.join(work, "records.json")
    cores = spark_cores()
    cmd = ["java", f"-Xmx{heap()}", f"-XX:CICompilerCount={max(2, cores)}",
           f"-XX:ParallelGCThreads={cores}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--out", out] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("runner " + ("timed out" if rc is None else f"exited with {rc}"))
    return load_json(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=DEFAULT_DATA,
                    help="parquet tables; default the vendored sf0.01 set")
    ap.add_argument("--record", action="store_true",
                    help="merge observed fingerprints into expected/<data dir name>.json")
    a = ap.parse_args(argv)

    if not os.path.isdir(GRAFT_SRC):
        fail(f"graft sources not found at {GRAFT_SRC}; run from a full checkout")
    if not os.path.isdir(a.data_dir):
        fail(f"data directory {a.data_dir} not found")
    queries, tables, reports, clients, round_s, warm = workload_conf(a.workload)
    # A fixed amount of work per run: the whole rounds that take --seconds
    # at the workload's nominal round time. Stopping on the clock instead
    # would let host noise change the sample count, and with it how many
    # rounds count as calm. A traced run doubles them: half untraced, half
    # traced.
    n_rounds = max(1, round(a.seconds / round_s)) * (2 if a.trace else 1)
    exp_path = os.path.join(HERE, "expected", os.path.basename(os.path.normpath(a.data_dir)) + ".json")
    expected = load_json(exp_path) if os.path.exists(exp_path) else {}

    cp = build()
    os.makedirs(WORK_DIR, exist_ok=True)
    work = os.path.join(WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    sampler = HostSampler()
    try:
        ticks0 = cpu_ticks()
        sampler.start()
        rec = run_jvm(cp, [
            "--data-dir", os.path.abspath(a.data_dir), "--cpus", str(spark_cores()),
            "--queries", ",".join(queries), "--tables", ",".join(tables),
            "--reports", "1" if reports else "0", "--clients", str(clients),
            "--seed", str(a.seed), "--rounds", str(n_rounds),
            "--trace", str(a.trace), "--warm", str(warm)], work)
        sampler.stop.set()
        ticks1 = cpu_ticks()
    finally:
        sampler.stop.set()
        shutil.rmtree(work, ignore_errors=True)

    rounds, checked = rec["rounds"], rec["queries"]
    if a.record:
        record(exp_path, checked, expected)
    bad = metrics.check(checked, expected)
    traced = [r for r in rounds if r["traced"]]
    untraced = [r for r in rounds if not r["traced"]]
    e2e, detail = metrics.end_to_end(rec, untraced)
    host = {
        "workload": a.workload, "seed": a.seed, "git_sha": git_sha(),
        "source_digest": source_digest()[:16], "nproc": os.cpu_count(),
        "spark_cores": spark_cores(), "heap": heap(),
        "heap_max_bytes": rec["heap_max_bytes"],
        "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1),
        "load_avg": statistics.mean(sampler.loads) if sampler.loads else os.getloadavg()[0],
        "data_dir": os.path.relpath(os.path.abspath(a.data_dir), ROOT),
        "clients": clients, "session_start_s": rec["start_s"],
        "warm_walls_s": [r["wall_s"] for r in rec["warm_rounds"]],
        "round_walls_s": [r["wall_s"] for r in rounds],
        "round_cpus_s": [r["cpu_s"] for r in rounds],
        "round_jit_s": [r["jit_s"] for r in rounds],
        "round_gc_s": [r["gc_s"] for r in rounds],
        "measured_s": rec["measured_s"],
        "failed_queries": bad, **detail,
    }
    if a.trace:
        values, layer_detail = metrics.per_layer(rec, traced, untraced)
        e2e_traced, _ = metrics.end_to_end(rec, traced)
        host["traced_end_to_end"] = e2e_traced
        host["untraced_end_to_end"] = e2e
        host.update(layer_detail)
        units = metrics.PER_LAYER
        os.makedirs(OUT_DIR, exist_ok=True)
        spans_path = os.path.join(OUT_DIR, f"spans-{a.workload}-seed{a.seed}.json")
        with open(spans_path, "w") as f:
            json.dump({"host": host, "per_layer": values, "spans": rec["spans"],
                       "queries": [q for q in rec["queries"] if "span" in q]}, f)
        host["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        values, units = e2e, metrics.END_TO_END
    attempted = len(checked)
    failed = sum(1 for q in checked if q["failed"])
    print(json.dumps({"run": host}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


def record(path, queries, expected):
    fps = expected.setdefault("fingerprints", {})
    rows_only = expected.setdefault("row_count_only", {})
    for q in queries:
        if not q.get("ok"):
            continue
        name, got = q["name"], {"rows": q["rows"], "hash": q["hash"]}
        want = fps.setdefault(name, got)
        if want["rows"] != got["rows"]:
            rows_only[name] = "row count changes between runs"
        elif want["hash"] != got["hash"] and name not in rows_only:
            rows_only[name] = "content hash changes between runs; row count is stable"
    expected["fingerprints"] = dict(sorted(fps.items()))
    expected["row_count_only"] = dict(sorted(rows_only.items()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
