#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
program from source with sbt (perfbench/build.sbt compiles src/main/scala
together with perfbench/src); later runs reuse the build while the sources
are unchanged. Each run starts one JVM at local[nproc], generates the
workload's inputs from the seed, runs a closed loop with one client for
--seconds, checks every output, and prints a summary followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones read
from spans and Spark listener records. See perfbench/README.md.

Every run also feeds its checker one result with a row dropped and is
marked incorrect unless the checker rejects it.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
RUN_LIMIT_S = 170  # a run must end within 180 s
sys.path.insert(0, BENCH)

WORKLOADS = ("manifest_local", "manifest_remote", "queries_light")

# end-to-end metrics printed on the last line (--trace 0), by name and unit
E2E = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("retained_heap_mb", "MB")]

# per-layer metrics (--trace 1) with the workloads whose layers produce them;
# on the others the layer does no work and the metric reads 0
MANIFEST = {"manifest_local", "manifest_remote"}
QUERIES = {"queries_light"}
ALL = set(WORKLOADS)
MODULES = ["CoreQueries", "RelationalQueries", "EventQueries", "MonitoringQueries",
           "ManifestFsQueries", "MiscQueries", "SketchQueries", "DedupQueries",
           "DedupEvalQueries", "SimilarityQueries", "GraphQueries", "TextQueries",
           "Multimodal", "PipelineQueries", "SelectionQueries", "CurationQueries"]
LAYERS = [
    ("sources.plan_s", "s", MANIFEST), ("sources.shards", "count", MANIFEST),
    ("sources.list_s", "s", MANIFEST), ("sources.objects_listed", "count", MANIFEST),
    ("sources.write_s", "s", MANIFEST), ("sources.encode_commit_s", "s", MANIFEST),
    ("sources.commit_s", "s", MANIFEST), ("sources.files_written", "count", MANIFEST),
    ("manifest.read_s", "s", MANIFEST), ("manifest.retries", "count", MANIFEST),
    ("manifest.throttles", "count", MANIFEST), ("manifest.peak_delay_ms", "ms", MANIFEST),
    ("store.list_calls", "count", MANIFEST), ("store.keys_returned", "count", MANIFEST),
    ("store.list_amplification", "ratio", MANIFEST), ("store.wait_s", "s", MANIFEST),
    ("store.errors_injected", "count", MANIFEST),
    ("spark.plan.analysis_s", "s", ALL), ("spark.plan.optimization_s", "s", ALL),
    ("spark.plan.planning_s", "s", ALL),
    ("query.construct_s", "s", QUERIES), ("ext.memo_build_s", "s", QUERIES),
    ("spark.exec.jobs", "count", ALL), ("spark.exec.stages", "count", ALL),
    ("spark.exec.tasks", "count", ALL), ("driver.gap_s", "s", ALL),
    ("spark.exec.stage_union_s", "s", ALL), ("spark.exec.run_s", "s", ALL),
    ("spark.exec.cpu_s", "s", ALL), ("spark.exec.shuffle_read_bytes", "B", ALL),
    ("spark.exec.shuffle_write_bytes", "B", ALL), ("spark.exec.spill_bytes", "B", ALL),
    ("spark.exec.peak_exec_mem_bytes", "B", ALL),
    ("storage.persisted_rdds", "count", ALL), ("storage.mem_bytes", "B", ALL),
    ("drift.warm_slope_s", "s", ALL), ("drift.heap_slope_mb", "MB", ALL),
    ("trace.overhead_frac", "ratio", ALL), ("trace.parts_error_frac", "ratio", ALL),
    ("trace.parts_ok", "count", ALL),
] + [(f"module.{m}_s", "s", QUERIES) for m in MODULES]

# each workload kind's own end-to-end figures, printed in the summary
SUMMARY = {
    "manifest": [("setup_s", "s"), ("objects_per_s", "obj/s"), ("manifest_bytes_per_obj", "B"),
                 ("readback_s", "s"), ("build_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
                 ("retained_heap_mb", "MB"), ("objects", "count"), ("builds", "count")],
    "queries": [("setup_s", "s"), ("suite_cold_s", "s"), ("suite_warm_s", "s"),
                ("query_p50_s", "s"), ("query_p90_s", "s"), ("query_samples", "count"),
                ("retained_heap_mb", "MB"), ("queries", "count"), ("warm_passes", "count")],
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def build_inputs():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # fall back to the directory the program's own build compiles against
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    die("Spark jars not found: set SPARK_HOME")


def build():
    """Compiles the harness and the program; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"program sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    digest = source_hash()
    try:
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp["hash"] == digest and all(os.path.exists(p) for p in stamp["classpath"]):
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    log("building harness and program with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        die("sbt printed no classpath")
    cp = lines[-1].split(os.pathsep)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cp, "build_s": time.time() - t0}, fh)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ---------------------------------------------------------- provenance

def load_avg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def cpu_busy(window=0.5):
    def snap():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v), v[3] + (v[4] if len(v) > 4 else 0)
    try:
        t0, i0 = snap()
        time.sleep(window)
        t1, i1 = snap()
        return 1.0 - (i1 - i0) / max(1, t1 - t0)
    except (OSError, ValueError):
        return None


def quiet_wait(limit_s=3.0, busy_max=0.5):
    """Waits (at most limit_s) for the machine's CPUs to be mostly idle."""
    t0, seen = time.time(), []
    while True:
        b = cpu_busy()
        seen.append(None if b is None else round(b, 3))
        if b is None or b <= busy_max or time.time() - t0 >= limit_s:
            break
    return {"waited_s": round(time.time() - t0, 2), "cpu_busy_samples": seen,
            "quiet": seen[-1] is not None and seen[-1] <= busy_max}


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# --------------------------------------------------------------- checks

def query_spec(workload):
    with open(os.path.join(BENCH, "queries.json")) as fh:
        spec = json.load(fh)
    return spec[workload], spec["memoized"]


def tables_dir(sf):
    """The query tables: a frozen copy of the repository's sf fixture."""
    d = os.path.join(BENCH, "tables", f"sf{sf}")
    if not os.path.isdir(d):
        die(f"query tables not found: {d}")
    return d


def check_queries(names, results, tables):
    """Compares each query's Spark result with its DuckDB oracle."""
    import oracle
    out = {}
    sql = {}
    path = os.path.join(results, "oracle_sql.json")
    if os.path.exists(path):
        with open(path) as fh:
            sql = json.load(fh)
    con = oracle.connect(tables)
    for q in names:
        out[q] = oracle.compare(con, os.path.join(results, q), sql.get(q))
    return out, con, sql


# ----------------------------------------------------------------- main

def jvm(cp, args, log_path, timeout):
    cmd = ["java"] + sum((["--add-opens", f"java.base/{p}=ALL-UNNAMED"] for p in JDK_OPENS), [])
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xmx4g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(cp), "perfbench.Harness"] + args
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    provenance = {"seed": a.seed, "workload": a.workload, "nproc": os.cpu_count(),
                  "load_avg_start": load_avg(), "git_commit": git_commit()}
    cp = build()
    started = time.time()  # a run's time limit starts after the build
    provenance["source_sha256"] = source_hash()
    provenance["quiet_wait"] = quiet_wait()
    provenance["load_avg_before_workload"] = load_avg()

    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    artifact = os.path.join(run_dir, "artifact.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--out", artifact]
    kind = "manifest" if a.workload in MANIFEST else "queries"
    if kind == "queries":
        spec, memoized = query_spec(a.workload)
        tables = tables_dir(spec["sf"])
        names = spec["queries"]
        args += ["--queries", ",".join(names), "--memoized", ",".join(memoized),
                 "--tables", tables]
    rc = jvm(cp, args, os.path.join(run_dir, "jvm.log"),
             max(30, RUN_LIMIT_S - (time.time() - started) - 15))
    if rc != 0 or not os.path.exists(artifact):
        log(f"harness exited with {rc}; see {os.path.join(run_dir, 'jvm.log')}")
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        sys.exit(3)
    with open(artifact) as fh:
        res = json.load(fh)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if kind == "queries":
        t0 = time.time()
        verdicts, con, sql = check_queries(names, os.path.join(run_dir, "results"), tables)
        attempted += len(verdicts)
        for q, (ok, detail) in verdicts.items():
            if not ok:
                failed += 1
                failures.append(f"oracle {q}: {detail}")
        # self-test: the checker must reject a result with one row dropped
        import oracle
        probe = next((q for q in names if verdicts[q][0] and sql.get(q)), None)
        caught = probe is not None and not oracle.compare(
            con, os.path.join(run_dir, "results", probe), sql[probe], drop_row=True)[0]
        attempted += 1
        if not caught:
            failed += 1
            failures.append("self-test: a result missing one row passed the oracle check")
        res["info"]["selftest_dropped_row_caught"] = caught
        res["info"]["oracle_check_s"] = round(time.time() - t0, 3)
        res["info"]["oracle_verdicts"] = {q: v[1] for q, v in verdicts.items()}
    e2e = res["e2e"]
    e2e["failed_frac"] = failed / max(1, attempted)

    # keep the artifact for humans, drop the bulky inputs and outputs
    res.update(provenance=provenance, attempted=attempted, failed=failed, failures=failures)
    last = os.path.join(WORK, "last")
    os.makedirs(last, exist_ok=True)
    with open(os.path.join(last, f"{a.workload}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    trace_file = os.path.join(run_dir, "trace.jsonl")
    if os.path.exists(trace_file):
        shutil.copy(trace_file, os.path.join(last, f"{a.workload}.trace.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    # human-readable summary
    print(f"workload {a.workload}  seed {a.seed}  nproc {provenance['nproc']}  "
          f"load {provenance['load_avg_before_workload']}  "
          f"java {res['info'].get('java_version')}  spark {res['info'].get('spark_version')}  "
          f"commit {provenance['git_commit']}  gen_s {fmt(res['info'].get('gen_s'))}")
    for name, unit in SUMMARY[kind] + [("failed_frac", "ratio")]:
        if name in e2e:
            print(f"  {name:<24} {fmt(e2e[name]):>14} {unit}")
    if a.trace:
        for name, unit, where in LAYERS:
            if a.workload in where:
                print(f"  {name:<34} {fmt(res['layers'].get(name, float('nan'))):>14} {unit}")
        ps = res["info"].get("parts_sum", {})
        print(f"  parts-sum: {ps.get('within')} of {ps.get('checked')} traced operations "
              f"within {ps.get('tolerance_frac')} of their wall time; parts: {ps.get('parts')}")
    for f in failures:
        print(f"  FAILED {f}")

    if a.trace:
        metrics = {}
        for name, unit, where in LAYERS:
            v = res["layers"].get(name) if a.workload in where else 0.0
            if v is None or (isinstance(v, float) and math.isnan(v)):
                log(f"per-layer metric {name} missing")
                failed += 1
                v = 0.0
            metrics[name] = {"value": v, "unit": unit}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E}
    correct = failed == 0 and res["info"].get("selftest_dropped_row_caught") is True
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
