#!/usr/bin/env python3
"""graft benchmark: ingest, search and battery workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|search|battery|all \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py),
generates the seeded inputs, runs one JVM per workload, checks every
answer, prints the metrics by name with their units, and prints as the
last line one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Exits 1 when any output check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("ingest", "search", "battery")
# battery has no warehouse, so no storage ratio; every other metric is
# reported by every workload
OPTIONAL = {("battery", "store_bytes_per_input_byte")}

END_TO_END = ["setup_s", "latency_p50_ms", "throughput_per_s", "cpu_ms_per_op",
              "store_bytes_per_input_byte"]

PER_LAYER = [
    "sources.pdf.parse_ms", "sources.pdf.mb_per_s", "sources.extract.valid_ratio",
    "sources.extract.rejected", "sources.catalog.append_ms", "sources.catalog.bytes_written",
    "sources.catalog.files_written", "sources.catalog.read_ms",
    "operators.chunker.ms", "operators.chunker.chunks_per_doc", "operators.embedder.ms",
    "operators.embedder.rows", "operators.fts.build_ms", "operators.fts.postings_rows",
    "operators.embedder.embed_one_us", "operators.vector.topk_ms",
    "operators.vector.rows_scanned_per_result", "operators.fts.search_ms",
    "operators.fts.candidates_per_query", "operators.hybrid.rrf_ms", "operators.context.select_ms",
    "pipeline.retriever.vector_ms", "pipeline.retriever.keyword_ms",
    "pipeline.retriever.hybrid_ms", "pipeline.retriever.context_ms", "rest.overhead_ms",
    "driver.build_ms_per_op", "driver.plan_ms_per_op", "driver.exec_ms_per_op",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_run_ms_per_op", "spark.executor_cpu_ms_per_op", "spark.executor_busy_ratio",
    "spark.shuffle_bytes_per_op", "spark.spill_bytes_per_op", "spark.gc_ms_per_op",
    "sparkentry.battery_ms", "sparkentry.battery_jobs", "trace.overhead_ratio",
]

# Scale of each workload's inputs; fixed so that every seed does the same
# amount of work.
BATTERY_SF = 0.05
PROBE_SF = 0.01
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(workload, seed, seconds, trace, work, extra):
    """Runs the harness for one workload and returns its result."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out] + extra
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {workload} did not finish in {JVM_TIMEOUT_S} s")
        finally:
            # also on SIGTERM or an error here: never leave the JVM running
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    for line in stdout.splitlines():
        if line.startswith("[perfbench]"):
            print(line)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: {workload} harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def cpu_times():
    """The host's CPU time counters (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run_workload(workload, seed, seconds, trace):
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launch = time.time()
        extra = []
        tdir = os.path.join(work, "tables")
        if workload == "battery" or trace:
            # a traced run measures the SparkEntry layer on small tables
            tables.write(tdir, seed, BATTERY_SF if workload == "battery" else PROBE_SF)
            extra = ["--tables", tdir]
        if trace:
            trace_out = os.path.join(ROOT, ".bench_work", f"trace-{workload}-{seed}.json")
            extra += ["--trace-out", trace_out]
        cpu0 = cpu_times()
        res = run_jvm(workload, seed, seconds, trace, work, extra)
        cpu1 = cpu_times()
        if cpu0 and cpu1:
            # the share of CPU time the host took away (steal) during the
            # run: wall-clock timings of a run with much of it read high
            d = [b - a for a, b in zip(cpu0, cpu1)]
            res["info"]["host_steal_pct"] = f"{100.0 * d[7] / max(1, sum(d)):.1f}"
        setup_s = res["setup_end_epoch_ms"] / 1000.0 - launch
        failures = list(res["failures"])
        if "oracle_sql" in res:
            # the oracle's answers count as set-up work
            t0 = time.time()
            want = tables.oracle_counts(tdir, res.get("oracle_sql", {}))
            setup_s += time.time() - t0
            got = res.get("battery_counts", {})
            for name, n in sorted(want.items()):
                if got.get(name) != n:
                    failures.append(f"{name}: {got.get(name)} rows, DuckDB oracle {n}")
            res["info"]["oracle_checked"] = str(len(want))
        res["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
        res["failures"] = failures
        if trace:
            res["info"]["trace_file"] = os.path.relpath(trace_out, ROOT)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, res, trace):
    print(f"== {workload} ({'traced' if trace else 'untraced'})")
    for k, v in res["info"].items():
        print(f"  {k}: {v}")
    for name, m in res["metrics"].items():
        print(f"  {name:44s} {m['value']!s:>24} {m['unit']}")
    for f in res["failures"]:
        print(f"  CHECK FAILED: {f}")


def summary(workload, res, names):
    metrics = {}
    for n in names:
        m = res["metrics"].get(n)
        if (workload, n) in OPTIONAL:
            continue
        if m is None or m["value"] is None:
            raise SystemExit(f"perfbench: metric {n} was not measured")
        metrics[n] = {"value": m["value"], "unit": m["unit"]}
    return {"correct": not res["failures"], "attempted": max(1, int(res["attempted"])),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    # turn SIGTERM into SystemExit so that the cleanup in run_jvm and
    # run_workload runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    names = PER_LAYER if args.trace else END_TO_END
    todo = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for w in todo:
        res = run_workload(w, args.seed, args.seconds, args.trace)
        report(w, res, args.trace)
        results[w] = summary(w, res, names)
    if len(todo) == 1:
        final = results[todo[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
