#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload ids_stream --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. Builds graft and the benchmark program
from source (sbt, cached by a hash of the sources under .bench_build/), pins
the run environment, starts the benchmark JVM, checks batch results against
their DuckDB oracle, and prints one JSON object as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones from a listener-traced run
(spans are written to .bench_build/graftbench/runs/<run>/trace.json).

Workloads and their load shape are in workloads.json; the metric names,
units, directions and bounds in BENCHMARK.json. Every workload reports every
metric; workloads.json says what each one means there. --smoke shortens warm-up and
timing for the benchmark's own tests (test_smoke.py).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# the JVM flags Spark's launcher passes on JDK 17, as the root build's forked run
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 175  # a run, its build excluded, must end within 180 s


def fail(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, log_path, timeout_s, **kw):
    """Runs cmd in its own process group with output to log_path; kills the
    whole group on timeout, or when this launcher is terminated. Returns the
    exit code, or None on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)

        def terminated(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, terminated)
        try:
            return p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_DFL)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark program; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "export graftbench/Runtime/fullClasspath"], log, 850, cwd=HERE, env=env)
    lines = [l.strip() for l in open(log, errors="replace")]
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        print(tail(log), file=sys.stderr)
        fail(f"build failed (sbt exit {rc}); log: {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def data_dir():
    """The sf0.1 tables: SPARK_GRAFT_SF_DIR, else the sf0.1 row of the
    checkout's TESTDATA.md."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        try:
            with open(os.path.join(ROOT, "TESTDATA.md")) as f:
                m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
            d = m.group(1) if m else None
        except OSError:
            d = None
    if not d or not all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        fail(f"sf0.1 tables not found (dir {d!r}); set SPARK_GRAFT_SF_DIR")
    return d.rstrip("/")


def oracle_check(ddir, check_dir, queries, errors):
    """Compares each query's parquet result with its DuckDB oracle the way
    tools/check.py does: columns sorted by name, rows sorted by all columns,
    exact values and dtypes. Returns {query: None if OK else reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{ddir}/{t}.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    tables = "".join(f"{t}:{os.stat(f'{ddir}/{t}.parquet').st_size}:{os.stat(f'{ddir}/{t}.parquet').st_mtime_ns};"
                     for t in TABLES)

    def expected(sql):
        """The oracle's result, kept per (SQL text, tables) across runs: the
        tables are read-only, so it only changes when the oracle SQL does."""
        path = os.path.join(cache, hashlib.sha256((sql + ddir + tables).encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.sql(sql).df()
        df.to_pickle(path)
        return df

    out = {}
    for q in queries:
        files = glob.glob(os.path.join(check_dir, q, "*.parquet"))
        if q in errors:
            out[q] = "exception: " + errors[q]
        elif not files:
            out[q] = "no output"
        elif q not in oracle:
            out[q] = "no oracle"
        else:
            try:
                s = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
                o = expected(oracle[q])
                s = s.reindex(sorted(s.columns), axis=1)
                o = o.reindex(sorted(o.columns), axis=1)
                if list(s.columns) != list(o.columns):
                    raise AssertionError(f"schema spark={list(s.columns)} oracle={list(o.columns)}")
                if len(s) != len(o):
                    raise AssertionError(f"rows spark={len(s)} oracle={len(o)}")
                s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
                o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
                pd.testing.assert_frame_equal(s, o, check_dtype=True, check_exact=True)
                out[q] = None
            except Exception as e:  # a mismatch or an oracle error fails the query
                out[q] = str(e).split("\n")[0][:300]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spark-cpus", type=int, default=2)
    ap.add_argument("--driver-heap", default="3g")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; one of {sorted(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(bench_json) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (needs BENCHMARK.json, build.sbt and src/)")
    with open(bench_json) as f:
        bj = json.load(f)
    units = {m["name"]: m["unit"] for m in bj["end_to_end"] + bj["per_layer"]}
    names = [m["name"] for m in bj["per_layer" if a.trace else "end_to_end"]]
    # Spark cores + the stream's load thread + one core left for the JVM's
    # JIT and GC threads must fit the cores this process may use
    load_threads = 1 if w["kind"] == "stream" else 0
    nproc = len(os.sched_getaffinity(0))
    if a.spark_cpus < 1 or a.spark_cpus + load_threads + 1 > nproc:
        fail(f"{a.spark_cpus} Spark cores + {load_threads} load thread + 1 spare core exceed the {nproc} cores")
    # a traced run calls every layer alone, the batch layers on the sf0.1 tables
    ddir = data_dir() if w["kind"] == "batch" or a.trace else ""

    cp = build()
    t_start = time.time()  # a build may take longer than a run; the run's limit starts here

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(a.spark_cpus)
    env["SPARK_LOCAL_DIRS"] = tmp
    ls = w["load_shape"]
    # a traced batch run adds a short stream of the stream workload's shape
    ss = next(x["load_shape"] for x in spec["workloads"].values() if x["kind"] == "stream")
    jvm_args = {"workload": a.workload, "kind": w["kind"], "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "smoke": int(a.smoke), "data": ddir, "out": run_dir,
                "queries": ",".join(ls.get("queries", [])),
                "input-tables": ",".join(ls.get("input_tables", [])),
                "small": ss["small"], "large": ss["large"],
                "small-per-large": ss["small_per_large"], "warm-cycles": ss["warm_cycles"],
                "warm-passes": ls.get("warm_passes", 0)}
    launch_ms = time.time() * 1000
    jvm_args["launch-ms"] = f"{launch_ms:.3f}"
    cmd = (["java", f"-Xmx{a.driver_heap}", f"-Xms{a.driver_heap}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              f"-Dderby.system.home={run_dir}", "-cp", cp, "graftbench.Main"]
           + [x for k, v in jvm_args.items() for x in (f"--{k}", str(v))])
    log = os.path.join(run_dir, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start) - (25 if w["kind"] == "batch" else 5)
    if a.smoke:
        budget = max(budget, 600)
    rc = run_bounded(cmd, log, budget, cwd=run_dir, env=env)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        print(tail(log), file=sys.stderr)
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; log: {log}", 4)
    with open(res_path) as f:
        res = json.load(f)
    info = res["info"]

    attempted, failed = res["attempted"], res["failed"]
    if w["kind"] == "batch":
        queries = ls["queries"]
        t_check = time.time()
        verdict = oracle_check(ddir, os.path.join(run_dir, "check"), queries, info.get("errors", {}))
        print(f"check: oracle took {time.time() - t_check:.1f} s")
        bad = sorted(q for q, v in verdict.items() if v)
        for q in queries:
            print(f"check: {q}: {'OK' if not verdict[q] else 'FAIL ' + verdict[q]}")
        print(f"check: oracle {len(queries) - len(bad)}/{len(queries)} queries match")
        attempted = info["passes"] * len(queries)
        failed = info["passes"] * len(bad)
        if "stream_probe_attempted" in info:
            print(f"check: stream probe alerts {info['stream_probe_attempted']} attempted, "
                  f"{info['stream_probe_failed']} failed")
            attempted += info["stream_probe_attempted"]
            failed += info["stream_probe_failed"]
        print(f"passes: {info['passes']} timed, {info['warmup_passes']} warm-up "
              f"{[round(x, 3) for x in info['warmup_pass_s']]}")
    else:
        print(f"check: alerts {info['alerts_received']} received / {info['alerts_expected']} expected "
              f"by the reference fold; missing {info['alerts_missing']}, surplus {info['alerts_surplus']}")
        print(f"samples: {info['latency_samples']} alert latencies over {info['latency_small_batches']} "
              f"small batches, {info['large_batches']} large batches, {info['warmup_batches']} warm-up batches")
        print(f"diagnostic: alert_latency_p90_ms = {info['alert_latency_p90_ms']:.6g} ms "
              f"(rests on the slowest of {info['latency_small_batches']} small batches; not bounded)")

    got = res["metrics"]
    missing = [n for n in names if not isinstance(got.get(n), (int, float)) or not math.isfinite(got[n])]
    extra = [n for n in got if n not in names]
    if missing or extra:
        fail(f"metrics missing or not finite numbers: {missing}; unexpected: {extra}", 5)
    metrics = {n: {"value": got[n], "unit": units[n]} for n in names}
    for n in names:
        print(f"{a.workload} {n} = {got[n]:.6g} {units[n]}")
    for d in ("check", "checkpoint", "stream", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
