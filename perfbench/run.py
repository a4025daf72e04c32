#!/usr/bin/env python3
"""NRT warehouse benchmark: one workload, one run.

    python3 perfbench/run.py --workload nrt_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine together with
the benchmark driver (sbt, offline) and generates the input tables; later
runs in the same checkout reuse both. Everything the run writes goes under
.bench_build/perfbench/. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The exit code is 0 only if every output checked out correct.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import datagen  # noqa: E402

ENGINE_MARKER = os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build_env(root):
    """sbt's environment: offline, against the pre-fetched repositories the
    engine's own build uses, and compiling against the same Spark jars as
    the engine's build (the directory its build.sbt names, else
    $SPARK_HOME/jars)."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    with open(os.path.join(root, "build.sbt")) as f:
        named = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = named.group(1) if named else os.path.join(env.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars!r}: set SPARK_HOME")
    env["SPARK_JARS_DIR"] = jars
    return env


def build(root, work):
    """Compiles engine + driver once per source state; returns the
    classpath file for `java @file`."""
    stamp, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath.args")
    want = source_stamp(root)
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return cp_file
    log("building engine and driver (sbt)")
    t = time.time()
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "-J-XX:-UsePerfData", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=build_env(root), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write("-cp\n" + cps[-1] + "\n")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t:.0f} s")
    return cp_file


# ------------------------------------------------------------- the run

def heap_size():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // (3 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "2g"


def percentile(xs, p):
    return float(np.percentile(np.asarray(xs, dtype=float), p))


def run_jvm(cp_file, work, args, deadline):
    out = os.path.join(work, "driver-out.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_size()}", f"-Xms{heap_size()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{cp_file}", "perfbench.NrtBench"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))] + ["--out", out])
    with open(os.path.join(work, "driver.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("driver exceeded its time budget", 3)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"driver exited with {code}", 3)
    with open(os.path.join(work, "driver.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        return json.load(f)


# ----------------------------------------------------------- checks

def check_ingest(p, revenue_prefix, n_expected):
    """The visible table must be exactly ids 0..n-1, once each, with the
    first-wins revenue of those lines."""
    t, errors = p["table"], []
    want = {"rows": n_expected, "distinct_ids": n_expected, "min_id": 0,
            "max_id": n_expected - 1, "new_lines": n_expected}
    for k, v in want.items():
        if t[k] != v:
            errors.append(f"table {k}={t[k]}, expected {v}")
    cents = int(round(float(t["revenue"]) * 100))
    if cents != int(revenue_prefix[n_expected]):
        errors.append(f"table revenue {t['revenue']} != expected {revenue_prefix[n_expected] / 100:.2f}")
    if len(p["latency_ms"]) != len(p["late_ms"]):
        errors.append("a live file has no freshness sample")
    return errors


def check_probes(p, revenue_prefix, n_expected):
    """Every reader result is a committed prefix of the feed: n rows carry
    exactly the revenue of ids 0..n-1."""
    bad = 0
    for n, cents in p["reader"]["observed"]:
        if not 0 < n <= n_expected or int(cents) != int(revenue_prefix[n]):
            bad += 1
    return bad


def canon(v):
    # Same rendering as tools/diffcheck.py: what the DuckDB differential compares.
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def frame_rows(df):
    cols = sorted(df.columns)
    return [[canon(v) for v in row] for row in df[cols].itertuples(index=False)], cols


def check_olap(work, sf_dir):
    """Each OLAP row's result must equal its DuckDB twin (rows, columns,
    order). DuckDB's answers depend only on the data and the SQL text, so
    they are cached per checkout."""
    import duckdb
    import pandas as pd
    check = os.path.join(work, "olap_check")
    cache_dir = os.path.join(os.path.dirname(sf_dir), "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = None
    errors = []
    for name, sql in sorted(oracle.items()):
        key = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".json")
        if os.path.exists(key):
            with open(key) as f:
                d_rows, d_cols = json.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 1")
                for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            d_rows, d_cols = frame_rows(con.execute(sql).df())
            with open(key, "w") as f:
                json.dump([d_rows, d_cols], f)
        files = sorted(os.path.join(check, name, x) for x in os.listdir(os.path.join(check, name))
                       if x.endswith(".parquet"))
        s_rows, s_cols = frame_rows(pd.concat([pd.read_parquet(x) for x in files], ignore_index=True))
        if s_cols != d_cols or s_rows != d_rows:
            errors.append(f"{name}: result differs from its DuckDB twin "
                          f"({len(s_rows)} vs {len(d_rows)} rows)")
    return errors


# ------------------------------------------------------------ metrics

def latency_of(workload, p):
    """The latency samples of a pass: per-file ingest-to-visible time of
    the catch-up drains on nrt_catchup, of the live files on the other
    ingest workloads, per-query time on olap_star."""
    return p["drain_latency_ms"] if workload == "nrt_catchup" else p["latency_ms"]


def e2e_metrics(workload, res, p):
    lat = latency_of(workload, p)
    if workload in ("nrt_ingest", "nrt_catchup"):
        thr = p["catchup_rows"] / p["catchup_s"]
    elif workload == "nrt_mixed":
        thr = p["live_rows_per_s"]
    else:
        thr = p["throughput_per_s"]
    return {
        "latency_p50_ms": {"value": percentile(lat, 50), "unit": "ms"},
        "latency_p90_ms": {"value": percentile(lat, 90), "unit": "ms"},
        "throughput_per_s": {"value": thr, "unit": "1/s"},
        "setup_s": {"value": statistics.median(res["setup_s"]), "unit": "s"},
    }


def unit_of(name):
    if "_ms" in name:
        return "ms"
    if "bytes" in name:
        return "bytes/row" if name.endswith("_per_row") else "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("queries_per_s"):
        return "1/s"
    if name.endswith("_rows") or name == "etl.rows_committed":
        return "rows"
    if name == "error_rate":
        return "ratio"
    return "count"


def layer_metrics(workload, passes, attempted, failed):
    """Per-layer metrics of the traced pass, which runs first; the second
    pass is the same workload untraced."""
    traced, plain = passes
    m = dict(traced["layers"])
    late = traced.get("late_ms") or [0.0]
    m["loadgen.late_ms_max"] = max(late)
    m["loadgen.files_dropped"] = traced.get("files_dropped", 0)
    m["loadgen.backlog_files_max"] = max(traced.get("backlog_files") or [0])
    m["etl.catchup_rows_per_s"] = traced["catchup_rows"] / traced["catchup_s"] if "catchup_s" in traced else 0.0
    m["etl.live_rows_per_s"] = traced.get("live_rows_per_s", 0.0)
    m["reader.queries_per_s"] = traced.get("reader", {}).get("queries_per_s", 0.0)
    m["error_rate"] = failed / attempted
    base = percentile(latency_of(workload, plain), 50)
    m["trace.overhead_pct"] = (percentile(latency_of(workload, traced), 50) - base) / base * 100.0
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(m.items())}


def declared_layers(root, workload):
    """The per-layer metric names BENCHMARK.json declares, if it declares
    this workload; otherwise None."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        return None
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return {m["name"] for m in bench["per_layer"]}


def saturated(backlogs):
    """A live run whose backlog grows: the last invocation found clearly
    more files waiting than the second. The first live invocation starts
    with the schedule, before any drop, so it says nothing."""
    b = backlogs[1:]
    return len(b) >= 2 and b[-1] > 1.5 * b[0] + 5


# --------------------------------------------------------------- main

def main():
    # SIGTERM unwinds like Ctrl-C, so a running driver JVM or build is
    # killed and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["nrt_catchup", "nrt_ingest", "olap_star", "nrt_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE_MARKER)):
        fail(f"no engine sources here ({ENGINE_MARKER} is missing); run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the engine")
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if os.path.isabs(base) and not base.startswith(root + os.sep):
        base = ".bench_build"
    work_root = os.path.join(root, base, "perfbench")
    os.makedirs(work_root, exist_ok=True)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)

    cp_file = build(root, work_root)
    sf = spec["engine"]["scale_factor"]
    data = datagen.ensure_tables(work_root, sf)
    sf_dir = os.path.join(data, "tables")
    deadline = time.time() + DEADLINE_S

    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = os.cpu_count() or 1
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": sf_dir, "work": work, "cpus": cpus,
            "setup-reps": spec["engine"]["setup_repetitions"]}
    ingest = a.workload != "olap_star"
    n_expected = 0
    if ingest:
        w = spec["workloads"][a.workload]
        if "seconds_per_drain" in w:
            # as many drains as take about --seconds, and at least two
            drains = max(2, math.ceil(a.seconds / w["seconds_per_drain"]))
            w["catchup_files"] = drains * w["drain_files"]
        n_files = w["catchup_files"] + math.ceil(a.seconds * w["live_rate_files_per_s"])
        if n_files * w["lines_per_file"] > datagen.sizes(sf)["lines"]:
            fail("--seconds is too long for the feed at this rate")
        feed = os.path.join(work, "feed")
        plan = datagen.feed_files(data, feed, a.seed, n_files, w["lines_per_file"],
                                  w["redelivered_share"], w["redelivery_lookback_files"])
        with open(os.path.join(feed, "plan.tsv"), "w") as f:
            f.write("".join(f"{p['name']}\t{p['first_id']}\t{p['last_id']}\n" for p in plan))
        n_expected = n_files * w["lines_per_file"]
        args.update({"feed": feed, "rate": w["live_rate_files_per_s"],
                     "catchup-files": w["catchup_files"], "warm-files": w["warm_files"],
                     "drain-files": w.get("drain_files", w["catchup_files"]),
                     "max-files-per-trigger": w["max_files_per_trigger"]})

    t_jvm = time.time()
    res = run_jvm(cp_file, work, args, deadline)
    log(f"driver ran {time.time() - t_jvm:.1f} s (run started {t_jvm - started:.1f} s in)")
    passes = res["passes"]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    errors = []
    if ingest:
        prefix = np.concatenate([[0], np.cumsum(np.load(os.path.join(data, "revenue_cents.npy")))])
        for p in passes:
            errors += check_ingest(p, prefix, n_expected)
            if a.workload == "nrt_mixed":
                bad = check_probes(p, prefix, n_expected)
                failed += bad
                if bad:
                    errors.append(f"{bad} reader results are not a committed prefix of the feed")
            if saturated(p["backlog_files"]):
                failed += 1
                errors.append(f"backlog grew during the live phase ({p['backlog_files']}): "
                              "the offered rate is above saturation")
    else:
        olap_errors = check_olap(work, sf_dir)
        failed += len(olap_errors)
        errors += olap_errors
    for e in errors:
        log(f"CHECK FAILED: {e}")
    correct = not errors and failed == 0

    if a.trace:
        metrics = layer_metrics(a.workload, passes, attempted, failed)
        # a workload BENCHMARK.json declares prints exactly its declared
        # per-layer metrics; the trace file below keeps all of them
        declared = declared_layers(root, a.workload)
        if declared:
            metrics = {k: v for k, v in metrics.items() if k in declared}
        trace_out = os.path.join(work_root, f"trace-{a.workload}-seed{a.seed}.json")
        shutil.copyfile(os.path.join(work, "driver-out.json"), trace_out)
        log(f"traced pass written to {trace_out}")
    else:
        metrics = e2e_metrics(a.workload, res, passes[0])
    log(f"{a.workload} seed {a.seed}: {len(latency_of(a.workload, passes[0]))} latency samples, "
        f"{time.time() - started:.0f} s wall")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    for name in ("driver.log", "driver-out.json"):
        base, ext = os.path.splitext(name)
        shutil.copyfile(os.path.join(work, name), os.path.join(work_root, f"{base}-last{ext}"))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
