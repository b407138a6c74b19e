#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload transfer|ops \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program from source
(perfbench/build.py), starts one JVM for the workload (perfbench.Main), checks
the outputs, and prints a report line followed by the result as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics. Everything it writes stays under .bench_work/
and .bench_build/ in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("transfer", "ops")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def run_jvm(args, classes, jars, work, cache, result):
    """Run the workload JVM: inputs and outputs under `cache`, everything
    else it leaves (temp files, logs) under the per-run `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] + opens +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), cache, result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cache, "spark-local"))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    finally:
        log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM ended with {code}")
    with open(result) as f:
        return json.load(f)


# ---- ops output checks: the DuckDB oracle, compared with tools/check.py's normalize ----

def digest(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest(), len(rows)


def oracle_checks(res, work, cache_dir):
    """key -> None when the key's output matches its oracle, else the reason.
    Oracle results are cached per (input, SQL): they are computed once per
    input, never inside a timed window (the JVM has exited)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import normalize  # the oracle gate's own comparison
    inp, out = res["input_dir"], res["output_dir"]
    with open(os.path.join(work, "ops-oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(inp, "_GENERATED")) as f:
        input_id = f.read()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet/*.parquet')")
    os.makedirs(cache_dir, exist_ok=True)
    verdict = {}
    for key in sorted(os.listdir(out)):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out}/{key}/*.parquet')")
            gcols, grows = normalize(got.fetchall(), [d[0] for d in got.description])
        except Exception as e:  # noqa: BLE001
            verdict[key] = f"NO_OUTPUT {str(e)[:80]}"
            continue
        sql = oracle.get(key.split("@")[0])  # "<key>@twin" is the key's twin-regime run
        if sql is None:
            verdict[key] = None if grows else "ROWS_ONLY: no rows"
            continue
        cpath = os.path.join(cache_dir, hashlib.sha256((input_id + sql).encode()).hexdigest() + ".json")
        if os.path.exists(cpath):
            with open(cpath) as f:
                want = json.load(f)
        else:
            try:
                w = con.sql(sql)
                wcols, wrows = normalize(w.fetchall(), [d[0] for d in w.description])
                want = {"cols": wcols, "digest": digest(wcols, wrows)}
            except Exception as e:  # noqa: BLE001
                want = {"error": str(e)[:120]}
            with open(cpath, "w") as f:
                json.dump(want, f)
        if "error" in want:
            verdict[key] = f"ORACLE_ERROR {want['error']}"
        elif gcols != want["cols"]:
            verdict[key] = f"SCHEMA_MISMATCH spark={gcols} duck={want['cols']}"
        elif list(digest(gcols, grows)) != list(want["digest"]):
            verdict[key] = f"VALUE_MISMATCH rows spark={len(grows)} duck={want['digest'][1]}"
        else:
            verdict[key] = None
    return verdict


# ---- report -----------------------------------------------------------------

def med(xs):
    xs = sorted(xs)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def workload_report(res):
    """The workload's own end-to-end numbers, each with unit and sample count n."""
    pp = res.get("per_pass", {})
    ops = res["ops_by_name"]
    attempted = max(1, int(res["attempted"]))
    n_passes = sum(1 for p in res["passes"] if not p["traced"])
    rep = {"failed_frac": {"value": res["failed_total"] / attempted, "unit": "1", "n": attempted},
           "suite_s": {"value": res["e2e"]["suite_s"], "unit": "s", "n": n_passes},
           "cpu_s": {"value": res["e2e"]["cpu_s"], "unit": "s", "n": n_passes}}
    if res["workload"] == "transfer":
        def rate(num, den):
            vals = [a / b for a, b in zip(num, den) if b > 0]
            return med(vals), len(vals)
        src_rows = res["source_rows"]
        for name, rows, key in (("pull_rows_per_s", src_rows, "pull_s"),
                                ("chunked_rows_per_s", res["chunk_table_rows"], "chunked_s")):
            v, n = rate([rows] * len(pp.get(key, [])), pp.get(key, []))
            rep[name] = {"value": v, "unit": "1/s", "n": n}
        rep["resume_s"] = {"value": med(pp.get("resume_s", [])), "unit": "s", "n": len(pp.get("resume_s", []))}
        for name, num, den in (("push_rows_per_s", "pushed_rows", "push_wall_s"),
                               ("read_rows_per_s", "read_rows", "read_wall_s")):
            v, n = rate(pp.get(num, []), pp.get(den, []))
            rep[name] = {"value": v, "unit": "1/s", "n": n}
        v, n = rate(pp.get("output_bytes", []), [res["source_bytes"]] * len(pp.get("output_bytes", [])))
        rep["bytes_ratio"] = {"value": v, "unit": "1", "n": n}
    else:
        n_ops = sum(v["n"] for v in ops.values())
        e = res["e2e"]
        rep["query_p50_s"] = {"value": e["op_p50_s"], "unit": "s", "n": n_ops}
        rep["query_p75_s"] = {"value": e["op_p75_s"], "unit": "s", "n": n_ops}
        rep["auto_s"] = {"value": res["auto_s"], "unit": "s", "n": n_passes}
        rep["twin_s"] = {"value": res["twin_s"], "unit": "s", "n": n_passes}
    rep["setup_s"] = {"value": res["e2e"]["setup_s"], "unit": "s", "n": len(res["setups"])}
    rep["heap_peak_mb"] = {"value": res["e2e"]["heap_peak_mb"], "unit": "MB", "n": res["heap_gcs"]}
    return rep


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        bench = spec()
        classes, jars = build.build()
        wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
        base = os.path.join(ROOT, ".bench_work")
        work = os.path.join(base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
        cache = os.path.join(base, "cache")
        os.makedirs(cache, exist_ok=True)
        load_start = loadavg()
        os.makedirs(work, exist_ok=True)
        result = os.path.join(work, "result.json")
        res = run_jvm(args, classes, jars, work, cache, result)
        res["load_start"], res["load_end"] = load_start, loadavg()
        wrong = dict(res["wrong"])
        if args.workload == "ops":
            verdict = oracle_checks(res, cache, os.path.join(cache, "oracle"))
            wrong.update({k: v for k, v in verdict.items() if v is not None})
        failed_ops = res["failed_ops"]
        # an operation whose key produced a wrong output counts as failed too
        wrong_execs = sum(v["n"] - v["failed"] for k, v in res["ops_by_name"].items() if k in wrong)
        other_wrong = sum(1 for k in wrong if k not in res["ops_by_name"])
        attempted = int(res["attempted"])
        res["failed_total"] = min(attempted, len(failed_ops) + wrong_execs + other_wrong)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "metrics": workload_report(res),
            "failed": sorted({o["op"] + ": " + o["error"] for o in failed_ops}),
            "wrong": wrong,
            "health": {"cpus": res["cpus"], "master": res["master"], "loadavg_start": load_start,
                       "loadavg_end": res["load_end"], "canary_ratio": res.get("canary_ratio"),
                       "psi_stall": res.get("psi_stall"), "canary_rate": res.get("canary_rate")},
            "setups": res["setups"], "passes": res["passes"], "gen_s": res["gen_s"],
            "op_median_s": {k: v["median_s"] for k, v in res["ops_by_name"].items()},
        }
        if args.trace:
            report["trace_overhead"] = res.get("trace_overhead")
            report["self_s"] = res.get("self_s")
            report["trace_file"] = os.path.relpath(
                os.path.join(cache, f"trace-{args.workload}-{args.seed}.jsonl"), ROOT)
        if args.workload == "ops":
            report["regime_guard_unchanged"] = res.get("regime_guard_unchanged")
        source = res["layers"] if args.trace else res["e2e"]
        metrics = {}
        for m in wanted:
            v = source.get(m["name"])
            if v is None:
                raise RuntimeError(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        shutil.rmtree(work, ignore_errors=True)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 2
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": res["failed_total"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
