"""CDC replication benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <cdc_steady|query_mix> \
      --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-test

Builds the program and the harness (perfbench/build.py), makes the run's
inputs from the seed, runs the workload in a fresh JVM, checks every output
against a model or oracle computed without the program, and prints one JSON
object as the last line of standard output. With --trace 0 its metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer ones,
and the run also writes its spans and a self-time summary under
.bench_build/perfbench/traces/. Exits non-zero when an output is wrong or the
run fails. See perfbench/README.md for what each workload and metric means.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT_OUT = os.path.join(".bench_build", "perfbench")
RUN_LIMIT_S = 170          # every run but a building one ends within this
QUERY_MIX_SCALE = 0.02     # size of the generated tables, as a TPC-H scale factor
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, args):
    jars = build.spark_jars()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "derby"),
    }
    return (["java", f"-Xmx{HEAP}"] + opens + [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main"] + args)


def run_jvm(cmd, log_path, timeout_s):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def canon(rows, cols):
    """Columns sorted by name, floats to 9 significant digits, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = float(f"{v:.9g}") if math.isfinite(v) else repr(v)
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def oracle_check(data_dir, results_dir):
    """Each query_mix result against its DuckDB oracle; returns mismatching names."""
    import duckdb
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=2")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql)
            oc, orows = canon(o.fetchall(), o.columns)
            s = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            sc, srows = canon(s.fetchall(), s.columns)
            ok = [c.lower() for c in oc] == [c.lower() for c in sc] and orows == srows
        except Exception as e:  # a query whose result is missing or unreadable
            print(f"oracle check {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return bad


def self_times(spans):
    """Per span name: count, total ms and self ms (duration minus the part
    of it covered by the span's children)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        covered, cur_end = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cur_end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += dur / 1e6
        agg["self_ms"] += (dur - covered) / 1e6
    return out


def last_untraced(workload):
    runs = sorted(glob.glob(os.path.join(ROOT_OUT, "runs", f"{workload}-trace0-*.json")),
                  key=os.path.getmtime)
    return json.load(open(runs[-1])) if runs else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    workload = "selftest_sink_failure" if a.self_test else a.workload
    if workload not in ("cdc_steady", "query_mix", "selftest_sink_failure"):
        sys.exit(f"unknown workload {workload!r}")

    bench = json.load(open("BENCHMARK.json"))
    classes = build.build()
    started = time.time()
    tag = f"{workload}-trace{a.trace}-seed{a.seed}-{os.getpid()}"
    work = os.path.abspath(os.path.join(ROOT_OUT, "work", tag))
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d))
    runs_dir = os.path.join(ROOT_OUT, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    data = os.path.join(work, "data")
    try:
        if workload == "query_mix":
            import gen_tables
            gen_tables.generate(data, a.seed, QUERY_MIX_SCALE)
        result_file = os.path.join(work, "result.json")
        log = os.path.join(runs_dir, tag + ".log")
        rc = run_jvm(java_cmd(classes, work, [
            workload, str(a.seed), str(a.seconds), str(a.trace), work, data, result_file]),
            log, RUN_LIMIT_S - (time.time() - started))
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log).read()[-6000:])
            sys.exit(f"{workload} run failed (exit {rc}); log in {log}")
        r = json.load(open(result_file))
        if workload == "query_mix":
            bad = oracle_check(data, os.path.join(work, "results"))
            if bad:
                r["correct"] = False
                r["failed"] += len(bad)
                r["notes"].append("oracle mismatch: " + ",".join(bad))
        shutil.copy(result_file, os.path.join(runs_dir, tag + ".json"))
        spans = result_file + ".spans.jsonl"
        if a.trace and os.path.exists(spans):
            traces = os.path.join(ROOT_OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, tag + ".spans.jsonl"))
            base = last_untraced(workload)
            summary = {
                "spans_file": os.path.join(traces, tag + ".spans.jsonl"),
                "self_times": self_times([json.loads(l) for l in open(spans)]),
                "traced_end_to_end": r["metrics"],
                # traced minus untraced, against the last untraced run of this workload
                "tracing_overhead": None if base is None else {
                    k: r["metrics"][k] - base["metrics"][k] for k in r["metrics"]},
            }
            with open(os.path.join(traces, tag + ".summary.json"), "w") as fh:
                json.dump(summary, fh, indent=1)
            print(json.dumps({"trace_summary": os.path.join(traces, tag + ".summary.json"),
                              "tracing_overhead": summary["tracing_overhead"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": workload, "seed": a.seed, "named_metrics": r["named"],
                      "latency_samples": r["latency_samples"], "notes": r["notes"]}))
    if workload == "selftest_sink_failure":
        print(json.dumps({"self_test_passed": r["correct"],
                          "error_rate": r["failed"] / r["attempted"]}))
        sys.exit(0 if r["correct"] else 1)
    kind = "per_layer" if a.trace else "end_to_end"
    source = r["layers"] if a.trace else r["metrics"]
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in bench[kind]}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
