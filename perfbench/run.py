#!/usr/bin/env python3
"""Benchmark for the graft Spark engine. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark runner from source (first run only),
generates the seeded inputs, runs one workload in a fresh JVM on
local[<cores>], checks the results (DuckDB oracle, row counts, or a
replay), and prints the metrics as one JSON object on the last line of
stdout. Workloads: query_mix, table_dml (see
perfbench/README.md). Everything the run writes lives under
perfbench/.work/<pid>, which is deleted at the end.
"""
import time

T_START = time.time()

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

WORKLOADS = ("query_mix", "table_dml")
# input scale factor: sf0.01 is ~60k lineitem rows, ~15k orders
SF = 0.01
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build
def sources_mtime(root):
    paths = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(root, "src", "main"), os.path.join(root, "project"),
              os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames[:] = [x for x in dirnames if x not in ("target", "project")]
            paths += [os.path.join(dirpath, f) for f in files]
    return max(os.path.getmtime(p) for p in paths if os.path.exists(p))


def classpath(root, deadline):
    """Compile the library and the runner with sbt once per checkout and
    cache the runtime classpath; recompile when a source is newer."""
    stamp = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= sources_mtime(root):
        with open(stamp) as f:
            return f.read().strip()
    log("building library and runner with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    res = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export Runtime/fullClasspath"], HERE, env,
                    deadline - time.time(), capture=True)
    if res is None or res[0] != 0:
        sys.stderr.write(res[1][-4000:] if res else "sbt timed out\n")
        raise SystemExit(3)
    lines = [l for l in res[1].splitlines() if "classes" in l and os.pathsep in l]
    if not lines:
        sys.stderr.write(res[1][-4000:])
        raise SystemExit(3)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_child(cmd, cwd, env, timeout, capture=False, log_path=None):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it. Returns (code, output) or None on timeout."""
    out = subprocess.PIPE if capture else open(log_path, "w")
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        text, _ = p.communicate(timeout=max(1.0, timeout))
        return p.returncode, text or ""
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if not capture:
            out.close()


# ----------------------------------------------------------------- checks
def norm(v):
    if isinstance(v, Decimal):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(cols, rows):
    """Columns sorted by name, values normalized, rows sorted: the same
    schema-insensitive form the repository's DuckDB oracle gate compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_checks(data_dir, out_dir):
    import pyarrow.parquet as pq
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duck(data_dir)
    checks = []
    for name, sql in sorted(sqls.items()):
        tbl = pq.read_table(os.path.join(out_dir, "results", name))
        cols = tbl.column_names
        spark_rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        try:
            res = con.execute(sql)
            o = canon([c[0] for c in res.description], res.fetchall())
            ok = canon(cols, spark_rows) == o
            detail = f"{len(spark_rows)} rows vs oracle {len(o[1])}"
        except Exception as e:  # an oracle that fails to run is a failed check
            ok, detail = False, f"oracle error: {e}"
        checks.append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
    return checks


# ---------------------------------------------------------------- metrics
def pct(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_skew", "_overhead")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in (os.path.join(root, "build.sbt"), os.path.join(root, "src", "main", "scala")):
        if not os.path.exists(need):
            log(f"not a source checkout of the library: {need} is missing")
            return 2
    b0 = time.time()
    cp = classpath(root, T_START + BUILD_LIMIT_S)
    # a (re)build is not part of the run: the run's clock skips it
    t_run = T_START + (time.time() - b0)

    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("data", "scratch", "spark-local", "out", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        scratch_before = sorted(os.listdir(dirs["scratch"]))
        gen.write(dirs["data"], a.seed, SF)
        env = dict(os.environ, GRAFT_SCRATCH=dirs["scratch"],
                   SPARK_LOCAL_DIRS=dirs["spark-local"])
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={dirs['tmp']}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", dirs["data"], "--work", dirs["scratch"],
                  "--out", dirs["out"]])
        jvm_log = os.path.join(work, "jvm.log")
        res = run_child(cmd, root, env, RUN_LIMIT_S - (time.time() - t_run),
                        log_path=jvm_log)
        if res is None or res[0] != 0:
            with open(jvm_log) as f:
                sys.stderr.write(f.read()[-6000:])
            log("runner timed out" if res is None else f"runner exited {res[0]}")
            return 1
        with open(os.path.join(dirs["out"], "result.json")) as f:
            r = json.load(f)
        scratch_after = sorted(os.listdir(dirs["scratch"]))

        checks = list(r["checks"])
        if a.workload == "query_mix":
            checks += oracle_checks(dirs["data"], dirs["out"])
        ops = r["ops"]
        untraced = [o for o in ops if not o["traced"]]
        secs = [o["secs"] for o in untraced]
        rounds = [x["secs"] for x in r["rounds"] if not x["traced"]]
        failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks)
        attempted = len(ops) + len(checks)

        for c in checks:
            log(f"check {'ok' if c['ok'] else 'FAILED'}: {c['name']}: {c['detail']}")
        by_name = {}
        for o in untraced:
            by_name.setdefault(o["name"], []).append(o["secs"])
        log("rounds: " + " ".join(f"{x['secs']:.2f}{'T' if x['traced'] else ''}" for x in r["rounds"]))
        for n, xs in sorted(by_name.items(), key=lambda kv: -statistics.median(kv[1])):
            log(f"op {n:<28} median {statistics.median(xs):7.3f} s of "
                + " ".join(f"{x:.3f}" for x in xs))
        # an op's latency is the median of its timed repeats
        lat = {n: statistics.median(xs) for n, xs in by_name.items()}
        print(json.dumps({
            "workload": a.workload, "seed": a.seed, "sf": SF, "cores": r["cores"],
            "fixture_state": "cold: inputs generated and fixtures built in this process",
            "ops": len(secs), "rounds": len(rounds), "op_types": len(lat),
            "fixture_secs": r["fixture_secs"], "check_secs": r["check_secs"],
            "scratch_before": scratch_before, "scratch_after": scratch_after,
            "checks": len(checks), "failed_checks": [c["name"] for c in checks if not c["ok"]],
        }))
        if a.trace:
            layers = dict(r["layers"])
            for kind, key in (("read", "manifest.read_p50_s"), ("write", "manifest.write_p50_s")):
                xs = [o["secs"] for o in untraced if o["module"] == "Manifests" and o["kind"] == kind]
                layers[key] = statistics.median(xs) if xs else 0.0
            layers["failed_ratio"] = failed / attempted
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        else:
            # process start until the first timed op, with the repeated
            # fixture builds counted once, at their median
            fx = r["fixture_secs"]
            setup = (r["timed_start_ms"] / 1000.0 - t_run
                     - sum(fx) + (statistics.median(fx) if fx else 0.0))
            metrics = {
                "setup_s": {"value": setup, "unit": "s"},
                # one full cycle of the workload's op types
                "wall_s": {"value": sum(lat.values()), "unit": "s"},
                # percentiles over the op types
                "op_p50_s": {"value": pct(list(lat.values()), 50), "unit": "s"},
                "op_p90_s": {"value": pct(list(lat.values()), 90), "unit": "s"},
            }
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
