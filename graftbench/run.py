#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source (sbt, offline) and prepares the inputs that do
not depend on the seed; later runs reuse both while the sources are
unchanged. Each run then

1. generates the workload's inputs from the seed (stamped and reused),
2. starts one JVM that sets up the engine three times, warms up, measures
   for ``--seconds`` and checks the outputs,
3. for ``query_mix``, compares every query result with its DuckDB oracle,
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or per-layer metrics (``--trace 1``)
   named in BENCHMARK.json.

Everything else (samples, per-query times, span file, generation and build
times) goes to ``graftbench/.work/out/``. The exit code is non-zero when a
correctness check failed or the run could not complete.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
T_START = time.monotonic()
FIRST_RUN = False  # set when this run builds: it may then take BUILD_LIMIT_S
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

# Sizes. One pass of each workload is a few seconds on 4 cores.
HOURLY = dict(month_sf=0.1, hours=12, warmup_ops=40, sweep_hours=2, sweep_reps=2)
BULK = dict(hours=3, rows_per_hour=200_000, files_per_hour=4, warmup_passes=1,
            sweep_reps=1)
MIX = dict(sf=0.02, warmup_passes=1, sweep_hours=2, sweep_reps=2)
# One fixed heap for every workload, committed up front, so peak RSS reflects
# the engine's footprint rather than when the collector chose to grow the heap.
HEAP = "1536m"
MIX_QUERIES = [
    "q1_agg", "q3_join_agg", "q42_percentile", "s3_sql_catalog", "st20_streaming_ann_serve",
]
WORKLOADS = ("hourly_ingest", "bulk_backfill", "query_mix")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def remaining(limit):
    return limit - (time.monotonic() - T_START)


def write_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def read_json(path):
    with open(path) as f:
        return json.load(f)


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src", "main", "**", "*"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS, "src", "**", "*"), recursive=True))
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile engine + harness (offline sbt) unless the sources are unchanged."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp(root)
    stamp_file = os.path.join(bdir, "stamp.json")
    if os.path.exists(stamp_file):
        s = read_json(stamp_file)
        if s.get("stamp") == stamp:
            return s["classpath"], None
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.monotonic()
    log_path = os.path.join(bdir, "sbt.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HARNESS, log_path,
                   remaining(BUILD_LIMIT_S) - 60, env)
    if rc != 0:
        raise RuntimeError(f"build failed (rc={rc}); see {log_path}")
    with open(log_path) as f:
        cps = [ln.strip() for ln in f if ln.startswith("/") and ".jar" in ln]
    if not cps:
        raise RuntimeError(f"build printed no classpath; see {log_path}")
    write_json(stamp_file, {"stamp": stamp, "classpath": cps[-1]})
    return cps[-1], time.monotonic() - t0


# ---------------------------------------------------------------- inputs

def keep_latest(parent, keep):
    """Drop all but the ``keep`` most recently used input sets under ``parent``."""
    dirs = sorted((d for d in glob.glob(os.path.join(parent, "*")) if os.path.isdir(d)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def stamped(dir_, make):
    """Return the manifest in ``dir_``, generating it first when absent."""
    path = os.path.join(dir_, "manifest.json")
    if os.path.exists(path):
        os.utime(dir_)
        return read_json(path), 0.0
    shutil.rmtree(dir_, ignore_errors=True)
    os.makedirs(dir_)
    t0 = time.monotonic()
    m = make(dir_)
    write_json(path, m)
    return m, time.monotonic() - t0


def mix_tables():
    d = os.path.join(WORK, "inputs", "tables", f"sf{MIX['sf']}")

    def make(dir_):
        rows = gen.write_tables(os.path.join(dir_, "data"), MIX["sf"])
        ev = gen.events(MIX["sf"])
        sweep = gen.write_hourly_tree(ev, os.path.join(dir_, "sweep"),
                                      range(24, 24 + MIX["sweep_hours"]))
        return {"rows": rows, "data_dir": os.path.join(dir_, "data"),
                "sweep_raw": os.path.join(dir_, "sweep"), "sweep_hours": sweep}
    return stamped(d, make)


def month_tree(dir_, p):
    """The whole month of events as hive TSV, plus a two-hour copy for the
    traced run's layer calls; the seed only picks a window of it."""
    ev = gen.events(p["month_sf"])
    hours = gen.write_hourly_tree(ev, os.path.join(dir_, "raw"), range(gen.HOURS_IN_MONTH))
    sweep = os.path.join(dir_, "sweep")
    return {"raw": os.path.join(dir_, "raw"), "hours": hours, "sweep_raw": sweep,
            "sweep_hours": gen.write_hourly_tree(ev, sweep, range(p["sweep_hours"]))}


def inputs(workload, seed):
    """Generate (or reuse) the inputs of one run; returns (manifest, seconds)."""
    rng = random.Random(seed)
    parent = os.path.join(WORK, "inputs", workload)
    if workload == "hourly_ingest":
        p = HOURLY
        month, gen_s = stamped(os.path.join(WORK, "inputs", "month", f"sf{p['month_sf']}"),
                               lambda d: month_tree(d, p))
        start = rng.randrange(0, gen.HOURS_IN_MONTH - p["hours"] + 1)
        order = list(range(start, start + p["hours"]))
        rng.shuffle(order)
        m = {"schema": "events", "raw": month["raw"],
             "hours": [month["hours"][i] for i in order],
             "sweep_raw": month["sweep_raw"], "sweep_hours": month["sweep_hours"]}
        m.update(warmup_ops=p["warmup_ops"], sweep_reps=p["sweep_reps"])
        return m, gen_s
    elif workload == "bulk_backfill":
        p = BULK
        start = rng.randrange(0, gen.HOURS_IN_MONTH - p["hours"] + 1)

        def make(dir_):
            raw = os.path.join(dir_, "raw")
            hours = gen.write_bulk_tree(raw, seed, range(start, start + p["hours"]),
                                        p["rows_per_hour"], p["files_per_hour"])
            sweep = os.path.join(dir_, "sweep")
            shutil.copytree(gen.hive_dir(raw, hours[0]["id"]),
                            gen.hive_dir(sweep, hours[0]["id"]))
            return {"schema": "events_raw", "raw": raw, "hours": hours,
                    "sweep_raw": sweep, "sweep_hours": hours[:1]}
        key = f"s{seed}-h{p['hours']}-r{p['rows_per_hour']}-f{p['files_per_hour']}"
    else:
        p = MIX
        tables, gen_s = mix_tables()
        order = MIX_QUERIES[:]
        rng.shuffle(order)
        m = {"schema": "events", "raw": tables["sweep_raw"], "hours": [],
             "data_dir": tables["data_dir"], "queries": order,
             "sweep_raw": tables["sweep_raw"], "sweep_hours": tables["sweep_hours"],
             "warmup_passes": p["warmup_passes"], "sweep_reps": p["sweep_reps"]}
        return m, gen_s
    os.makedirs(parent, exist_ok=True)
    m, gen_s = stamped(os.path.join(parent, key), make)
    keep_latest(parent, 2)
    m.update(warmup_passes=p["warmup_passes"], sweep_reps=p["sweep_reps"])
    return m, gen_s


# ---------------------------------------------------------------- JVM

def jvm(classpath, workload, seed, seconds, trace, manifest, prepare=False):
    """Run the harness JVM once; returns (result dict or None, log path)."""
    run_dir = os.path.join(WORK, "runs", workload)
    work = os.path.join(run_dir, "prepare" if prepare else f"s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    mpath = os.path.join(work, "manifest.json")
    write_json(mpath, manifest)
    out = os.path.join(work, "result.json")
    # The API's HTTP server runs with TCP_NODELAY: without it every response
    # waits out the client's delayed-ACK timer (~40 ms on Linux), and ingest
    # latency is quantised to the poll round trip instead of the engine's work.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--manifest", mpath,
            "--work", work, "--out", out, "--prepare", "1" if prepare else "0"]
    env = dict(os.environ)
    env.pop("GRAFT_LOG_LEVEL", None)
    log_path = os.path.join(work, "jvm.log")
    limit = BUILD_LIMIT_S if prepare or FIRST_RUN else RUN_LIMIT_S
    rc = run_group(cmd, run_dir, log_path, remaining(limit) - 5, env)
    if rc is None:
        log(f"{workload}: JVM timed out; see {log_path}")
    elif rc != 0:
        log(f"{workload}: JVM exited {rc}; see {log_path}")
    result = read_json(out) if os.path.exists(out) else None
    if not prepare and os.path.exists(work):
        # keep the result, log and spans; drop the landed data
        for d in os.listdir(work):
            full = os.path.join(work, d)
            if os.path.isdir(full) and d != "oracle":
                shutil.rmtree(full, ignore_errors=True)
    return result, log_path


def prepare(classpath):
    """Untimed, once per checkout: generate the seed-independent inputs and
    build the query mix's memoised state (the served index, exported
    fixtures), so no run pays for them."""
    month_gen_s = inputs("hourly_ingest", 0)[1]
    manifest, gen_s = inputs("query_mix", 0)
    stamp = os.path.join(WORK, "runs", "query_mix", "prepared.json")
    if os.path.exists(stamp) and read_json(stamp).get("data_dir") == manifest["data_dir"]:
        return {"month_gen_s": month_gen_s, "mix_gen_s": gen_s}
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    t0 = time.monotonic()
    result, log_path = jvm(classpath, "query_mix", 0, 0, 0, manifest, prepare=True)
    if result is None or result["failures"]:
        raise RuntimeError(f"query_mix preparation failed; see {log_path}")
    write_json(stamp, {"data_dir": manifest["data_dir"]})
    return {"month_gen_s": month_gen_s, "mix_gen_s": gen_s,
            "mix_prepare_s": time.monotonic() - t0}


# ---------------------------------------------------------------- oracle

def oracle_check(manifest, oracle_dir):
    """Hash-compare every query result with its DuckDB oracle; returns failures."""
    import duckdb
    sql = read_json(os.path.join(oracle_dir, "oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in glob.glob(os.path.join(manifest["data_dir"], "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    failures = []
    for q in manifest["queries"]:
        files = os.path.join(oracle_dir, q, "*.parquet")
        try:
            if not glob.glob(files):
                raise RuntimeError("no result written")
            got = frame_digest(con, f"SELECT * FROM read_parquet('{files}')")
            want = frame_digest(con, sql[q])
            if got != want:
                raise RuntimeError(f"result {got[:2]} differs from oracle {want[:2]}")
        except Exception as e:  # a failed check is recorded, never fatal
            failures.append(f"{q} oracle: {e}"[:600])
    return failures


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(0.0 if v == 0.0 else v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def frame_digest(con, sql):
    """(columns, rows, sha256) of a result: columns by name, rows sorted."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return sorted(cols), len(rows), h


# ---------------------------------------------------------------- main

def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def tracing_overhead(workload, result):
    """Traced op_p50 against the median op_p50 of this checkout's untraced runs."""
    hist = os.path.join(WORK, "out", "untraced_op_p50.jsonl")
    p50 = result.get("metrics", {}).get("op_p50_ms")
    if p50 is None:
        return None
    if not result["trace"]:
        with open(hist, "a") as f:
            f.write(json.dumps({"workload": workload, "op_p50_ms": p50}) + "\n")
        return None
    if not os.path.exists(hist):
        return None
    with open(hist) as f:
        base = [json.loads(ln)["op_p50_ms"] for ln in f if json.loads(ln)["workload"] == workload]
    return 100.0 * (p50 / statistics.median(base) - 1.0) if base else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        sys.exit(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("run from the root of a graft checkout: src/main/scala/graft is missing")
    bench = spec(root)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)

    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace}
    classpath, build_s = build(root)
    detail["build_s"] = build_s
    if build_s is not None:
        global FIRST_RUN
        FIRST_RUN = True
        detail.update(prepare(classpath))
    manifest, detail["gen_s"] = inputs(a.workload, a.seed)
    t0 = time.monotonic()
    result, log_path = jvm(classpath, a.workload, a.seed, a.seconds, a.trace, manifest)
    detail["jvm_s"] = time.monotonic() - t0

    failures, attempted = [], 1
    if result is None:
        failures.append(f"the benchmark JVM produced no result; see {log_path}")
        result = {"metrics": {}, "layers": {}, "trace": bool(a.trace)}
    else:
        failures += result["failures"]
        attempted = max(1, result["attempted"])
        if a.workload == "query_mix":
            oracle_dir = os.path.join(os.path.dirname(log_path), "oracle")
            t0 = time.monotonic()
            try:
                failures += oracle_check(manifest, oracle_dir)
            except Exception as e:
                failures.append(f"oracle check could not run: {e}")
            attempted += len(manifest["queries"])
            detail["oracle_s"] = time.monotonic() - t0
            shutil.rmtree(oracle_dir, ignore_errors=True)
    source = result["layers"] if a.trace else result["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)):
            failures.append(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    detail.update(result=result, failures=failures, failed_frac=len(failures) / attempted,
                  tracing_overhead_pct=tracing_overhead(a.workload, result) if result else None)
    write_json(os.path.join(WORK, "out", f"{a.workload}-s{a.seed}-t{a.trace}.json"), detail)
    for f in failures:
        log(f"FAILED {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a run that cannot start still prints its line
        log(f"cannot run: {e}")
        sys.exit(2)
