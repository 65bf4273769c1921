#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload ingest_cycles --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py, reused while the sources
are unchanged), generates the workload's inputs from the seed (gen.py),
drives the program's public entry points in one JVM (scala/perfbench),
checks every output against an independent computation (checks.py) and
prints, as the last line of standard output,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). All run state lives in a temporary directory under
.bench_build/runs that is removed when the run ends; a traced run leaves
its spans and jobs in .bench_build/trace/<workload>-<seed>.json. See
README.md for the workloads, inputs, checks and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Nominal seconds of one round on a 4-core host. A run does
# round(seconds / nominal) whole rounds (at least one), so the work of a
# run is fixed by --seconds, never by how fast this particular run goes.
NOMINAL_ROUND_S = {"ingest_cycles": 20.0, "backfill_merge": 20.0,
                   "curation_stream": 20.0, "etl_queries": 50.0}

# The metrics a run prints, in BENCHMARK.json's order (selftest.py checks
# that the two agree).
END_TO_END = ["setup_s", "run_s", "op_p50_s", "rows_per_s", "write_mb"]
MODULE_FILES = ["PaginatedSource", "Pipelines", "ManifestCommit", "Sinks", "CurationStream",
                "Dedup", "RelationalQueries", "TransformQueries", "JoinQueries", "OpsQueries",
                "MartQueries", "other"]
PER_LAYER = (["spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op", "driver.self_s",
              "spark.core_util", "spark.exec_cpu_s", "spark.shuffle_mb", "spark.spill_mb",
              "spark.gc_s", "spark.input_mb"]
             + [f"{k}.{f}" for f in MODULE_FILES for k in ("jobs", "job_s")]
             + ["commit.deltas_per_table", "ingest.late_over_early", "sinks.rewrite_ratio",
                "streaming.accept_ratio", "streaming.received", "streaming.accepted",
                "streaming.postings_rows", "queries.construct_s", "queries.plan_s",
                "queries.exec_s", "queries.eager_jobs", "monitoring.alerts", "trace.run_s"])

JVM_HEAP = "3g"
RUN_LIMIT_S = 160  # after the build; the run must end within 180 s


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, workload, run_dir, rounds, trace, deadline):
    log_path = os.path.join(run_dir, "jvm.log")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", *build.ADD_OPENS, f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           "-cp", build.classpath(classes), "perfbench.PerfBench",
           workload, run_dir, str(rounds), str(trace), str(cpus())]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    left = max(10.0, deadline - time.time())
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=left)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def metrics(workload, res, info, setup_s, trace):
    ops = [o["s"] for o in res["ops"] if not o["failed"]]
    rounds = len({o["round"] for o in res["ops"]})
    if trace:
        m = {k: (v["value"], v["unit"]) for k, v in res["per_layer"].items()}
        m.update({
            "commit.deltas_per_table": (info.get("deltas_per_table", 0), "count"),
            "ingest.late_over_early": (late_over_early(res) if workload == "ingest_cycles" else 0.0, "ratio"),
            "sinks.rewrite_ratio": (res["write_bytes"] / (info["input_bytes"] * rounds), "ratio"),
            "streaming.accept_ratio": (info.get("accepted", 0) / info["received"]
                                       if info.get("received") else 0.0, "ratio"),
            "streaming.received": (info.get("received", 0), "count"),
            "streaming.accepted": (info.get("accepted", 0), "count"),
            "streaming.postings_rows": (info.get("postings_rows", 0), "count"),
            "monitoring.alerts": (info.get("alerts", 0), "count"),
        })
    else:
        m = {
            "setup_s": (setup_s, "s"),
            "run_s": (res["run_s"], "s"),
            "op_p50_s": (statistics.median(ops), "s"),
            "rows_per_s": (info["rows_per_round"] * rounds / res["run_s"], "rows/s"),
            "write_mb": (res["write_bytes"] / 2 ** 20, "MB"),
        }
    return {k: {"value": m[k][0], "unit": m[k][1]} for k in (PER_LAYER if trace else END_TO_END)}


def late_over_early(res):
    """Median of the last tenth of cycles over the median of the first tenth,
    per round, then the median over rounds."""
    by_round = {}
    for o in res["ops"]:
        by_round.setdefault(o["round"], []).append(o["s"])
    ratios = []
    for xs in by_round.values():
        k = max(1, len(xs) // 10)
        ratios.append(statistics.median(xs[-k:]) / statistics.median(xs[:k]))
    return statistics.median(ratios)


def execute(workload, seed, seconds, trace, keep=False):
    """One benchmark run. Returns the result line and the run directory
    (already removed unless `keep`)."""
    classes = build.build()
    t_setup = time.time()
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=runs)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        gen.GENERATORS[workload](seed, f"{run_dir}/input/{workload}")
        rounds = max(1, round(seconds / NOMINAL_ROUND_S[workload]))
        res = run_jvm(classes, workload, run_dir, rounds, trace, t_setup + RUN_LIMIT_S)
        setup_s = res["timed_start_ms"] / 1000.0 - t_setup
        errors, info = checks.CHECKS[workload](run_dir, res)
        for e in errors[:20]:
            print(f"check failed: {e}", file=sys.stderr)
        if trace:
            trace_dir = os.path.join(build.BUILD, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copyfile(os.path.join(run_dir, "trace.json"),
                            os.path.join(trace_dir, f"{workload}-{seed}.json"))
        out = {"correct": not errors, "attempted": len(res["ops"]),
               "failed": sum(1 for o in res["ops"] if o["failed"]),
               "metrics": metrics(workload, res, info, setup_s, trace)}
    finally:
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    return out, run_dir


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        out, _ = execute(a.workload, a.seed, a.seconds, a.trace)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
