#!/usr/bin/env python3
"""Benchmark of the dedup pipeline and the LSH read path.

Usage (from the repository root):

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

W is dedup_skew_ckpt, ann_queries, or `all` to run both in turn. The
program and the benchmark are compiled from source on first use
(perfbench/build.py). Each workload runs in one local[4] JVM; see
perfbench/NOTES.md for what is measured and why.

The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics of a
traced run when --trace 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ["dedup_skew_ckpt", "ann_queries"]
ANN_DOCS, ANN_VECS = 600, 300
SETUP_REPS = 3
JVM_TIMEOUT_S = 160

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def ann_setup(data_dir):
    """Generate the ann_queries tables SETUP_REPS times; median seconds."""
    import gendocs
    times = []
    for r in range(SETUP_REPS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        gendocs.write(data_dir, ARGS.seed, ANN_DOCS, ANN_VECS)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_jiffies():
    """(steal, total) jiffies of the machine, for the host-contention note."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_check(data_dir, out_dir):
    """DuckDB runs each query's oracle SQL on the same parquet tables; the
    Spark result must match it exactly after canonicalization (columns by
    name, then rows sorted). Returns the mismatching queries."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for q, sql in sorted(oracle.items()):
        try:
            got = canon(pd.read_parquet(os.path.join(out_dir, q)))
            want = canon(con.sql(sql).df())
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # any difference, or a query without output
            bad.append(f"{q}: {str(e).splitlines()[0] if str(e) else type(e).__name__}")
    con.close()
    return bad


def pair_score(data_dir, out_dir):
    """Planted near-dup doc pairs against q_near_dup_pairs' output, from
    Σ C(k,2) over (truth group) and over reported pairs inside a group."""
    import pandas as pd
    truth = pd.read_parquet(f"{data_dir}/truth.parquet").set_index("doc_id")["truth_group"]
    sizes = truth.value_counts()
    planted = int((sizes * (sizes - 1) // 2).sum())
    pairs = pd.read_parquet(os.path.join(out_dir, "q_near_dup_pairs"))
    reported = len(pairs)
    true_pairs = int((truth.loc[pairs["a"]].values == truth.loc[pairs["b"]].values).sum())
    recall = true_pairs / planted if planted else 1.0
    precision = true_pairs / reported if reported else 1.0
    return recall, precision, {"planted_pairs": planted, "reported_pairs": reported,
                               "true_pairs": true_pairs}


def run_workload(workload, classes):
    work = os.path.join(HERE, ".work", f"{workload}-{ARGS.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(HERE, ".traces")
    os.makedirs(trace_dir, exist_ok=True)
    try:
        jvm_args = ["--workload", workload, "--seed", str(ARGS.seed),
                    "--seconds", str(ARGS.seconds), "--trace", str(ARGS.trace),
                    "--work", work, "--trace-dir", trace_dir,
                    "--out", os.path.join(work, "result.json")]
        data_dir = os.path.join(work, "data")
        if workload == "ann_queries":
            jvm_args += ["--data", data_dir, "--setup-base-s", repr(ann_setup(data_dir))]
        cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}"] + ADD_OPENS +
               ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
                "perfbench.PerfBench"] + jvm_args)
        log_path = os.path.join(work, "jvm.log")
        steal0, total0 = cpu_jiffies()
        t0 = time.perf_counter()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"benchmark JVM exited with {rc}:\n{tail}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        metrics, report = res["metrics"], res["report"]
        steal1, total1 = cpu_jiffies()
        report["jvm_s"] = time.perf_counter() - t0
        report["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        attempted, failed, problems = res["attempted"], res["failed"], res["problems"]
        if workload == "ann_queries":
            out_dir = os.path.join(work, "out")
            bad = oracle_check(data_dir, out_dir)
            attempted += 1
            if bad:
                failed += 1
                problems += [f"DuckDB mismatch {b}" for b in bad]
            recall, precision, counts = pair_score(data_dir, out_dir)
            report.update(counts, dup_pair_recall=recall, dup_pair_precision=precision)
            if not ARGS.trace:
                metrics.update(dup_pair_recall=recall, dup_pair_precision=precision)
        return metrics, report, attempted, failed, problems
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    global ARGS
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ARGS = ap.parse_args()
    try:
        spec = bench_spec()
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"perfbench: cannot build the program: {e}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if ARGS.trace else spec["end_to_end"]
    for workload in (WORKLOADS if ARGS.workload == "all" else [ARGS.workload]):
        metrics, report, attempted, failed, problems = run_workload(workload, classes)
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"{workload}: metrics not produced: {missing}")
        for p in problems:
            print(f"[{workload}] FAILED CHECK: {p}")
        print(f"[{workload}] report: " + json.dumps(report, sort_keys=True))
        print(f"[{workload}] " + "  ".join(
            f"{m['name']}={metrics[m['name']]:.6g} {m['unit']}" for m in wanted))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
        }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
