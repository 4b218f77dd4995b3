"""Benchmark of duckdb_ann_spark, run from the root of a checkout.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 15 --trace 0

runs one workload and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The lines
before it give every metric the workload measures by name and unit, and
the settings and code paths the run observed. `--workload all` runs each
workload untraced and then traced, prints the same per workload, and
reports the tracing overhead. The exit code is 0 only when every call
returned correct results.

Set-up (session start, data generation, warm-up) is timed
apart from the measured phase; the data steps run SETUP_REPS times and
their median is reported. Load comes from this one process, a closed
loop with one client, against local[nproc].
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
REPORT_TAG = "perfbench-report "

E2E = (
    ("setup_s", "s"),
    ("bulk_rows_per_s", "rows/s"),
    ("call_p50_s", "s"),
    ("call_qps", "1/s"),
    ("recall", "ratio"),
    ("driver_peak_rss_mb", "MB"),
)
LAYER_EXTRA = (
    ("storage.index_bytes_per_vector_byte", "ratio"),
    ("index.vamana.route_probe_frac", "ratio"),
    ("index.vamana.search_l", "count"),
    ("index.ivf.probe_frac", "ratio"),
    ("index.ivf.short_queries", "count"),
    ("operators.knn_join.probe_frac", "ratio"),
    ("operators.knn_join.broadcast_calls", "count"),
    ("operators.knn_join.cogroup_calls", "count"),
    ("index._prune_c.available", "bool"),
    ("session.start_s", "s"),
    ("host.nproc", "count"),
    ("host.spark_job_floor_s", "s"),
    ("host.gemm_s", "s"),
    ("kernel.vamana_core.build_graph_s", "s"),
    ("kernel.vamana_core.search_s", "s"),
    ("kernel.distance.gemm_topk_s", "s"),
    ("kernel.distance.arrow_to_numpy_s", "s"),
    ("kernel.hnsw_core.build_hnsw_s", "s"),
    ("trace.coverage_frac", "ratio"),
    ("trace.bookkeeping_s", "s"),
)
SPAN_UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count",
              "task_s": "s", "shuffle_bytes": "bytes"}


def layer_metric_units() -> list:
    from perfbench.trace import FIELDS, SPAN_NAMES

    return [(f"{s}.{f}", SPAN_UNITS[f]) for s in SPAN_NAMES
            for f in FIELDS] + list(LAYER_EXTRA)


def _isolate(work: str) -> None:
    """Keep every file the run writes under `work`: Spark's scratch
    space, the JVM's and Python's temp files, the compiled kernel cache
    (empty, so the kernel compiles during set-up) and the index root."""
    for sub in ("cache", "spark", "tmp", "indexes"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_ANN_INDEX_ROOT"] = os.path.join(work, "indexes")
    tempfile.tempdir = os.environ["TMPDIR"]
    # -XX:-UsePerfData: no per-process JVM statistics file in /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + " -XX:-UsePerfData"
        f" -Djava.io.tmpdir={os.environ['TMPDIR']}").strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "")
        + " -XX:-UsePerfData").strip()


def run_one(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still works there


def _run(args, work: str) -> int:
    from perfbench import probes
    from perfbench.harness import (
        Tally, peak_rss_mb, reset_peak_rss, start_session, stop_session)
    from perfbench.trace import Tracer, spark_jobs
    from perfbench.workloads import WORKLOADS, Run

    nproc = (int(os.environ.get("SPARK_GRAFT_CPUS") or 0)
             or len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    from duckdb_ann_spark.index import _prune_c

    prune_ok = _prune_c.available()  # compiles into the empty cache
    compile_s = time.perf_counter() - t0
    spark, start_s = start_session(nproc)
    try:
        tally = Tally()
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        run = Run(spark, args.seed, work, tracer, tally, nproc)
        setup, measure, finish = WORKLOADS[args.workload]
        reps = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            st = setup(run, os.path.join(work, f"setup{i}"))
            reps.append(time.perf_counter() - t)
        setup_s = compile_s + start_s + statistics.median(reps)

        if args.trace:
            tracer.install()
        rss_reset = reset_peak_rss()
        phase_epoch_ms = time.time() * 1000.0
        phase_t0 = time.perf_counter()
        ok = True
        try:
            measure(run, st, phase_t0 + args.seconds)
        except Exception:
            traceback.print_exc()
            tally.fail(tally.begin(), "measured phase raised")
            ok = False
        phase_t1 = time.perf_counter()
        rss = peak_rss_mb()
        tracer.uninstall()
        if ok:
            finish(run, st)

        run.e2e.update(setup_s=setup_s, driver_peak_rss_mb=rss)
        run.put("setup_s", setup_s, "s")
        run.put("driver_peak_rss_mb", rss, "MB")
        run.put("failed_frac", tally.failed / tally.attempted, "ratio")
        run.put("measured_s", phase_t1 - phase_t0, "s")
        run.info.update(
            nproc=nproc, prune_c_available=prune_ok,
            rss_peak_reset=rss_reset, setup_reps_s=reps,
            session_start_s=start_s, kernel_compile_s=compile_s,
            thread_env={k: os.environ.get(k) for k in (
                "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")},
            failures=tally.notes)

        if args.trace:
            values = {}
            summary = tracer.summary(
                spark_jobs(spark.sparkContext, phase_epoch_ms))
            for span, fields in summary.items():
                for f, v in fields.items():
                    values[f"{span}.{f}"] = v
            values.update(run.layer)
            values.update(probes.host_canaries(spark, nproc))
            values.update(probes.kernel_probes(args.seed))
            values.update({
                "index._prune_c.available": float(prune_ok),
                "session.start_s": start_s,
                "host.nproc": nproc,
                "trace.coverage_frac": tracer.coverage(phase_t0, phase_t1),
                "trace.bookkeeping_s": tracer.bookkeeping_s,
            })
            metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                       for n, u in layer_metric_units()}
        else:
            metrics = {n: {"value": float(run.e2e[n]), "unit": u}
                       for n, u in E2E if n in run.e2e}
    finally:
        stop_session(spark)

    w = args.workload
    for name, (value, unit) in run.report.items():
        print(f"[{w}] {name} = {value:.6g} {unit}")
    print(f"[{w}] info {json.dumps(run.info, sort_keys=True)}")
    print(REPORT_TAG + json.dumps({"workload": w, "report": run.report,
                                   "e2e": run.e2e}))
    correct = ok and tally.failed == 0
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from perfbench.workloads import WORKLOADS

    status = 0
    for w in WORKLOADS:
        out = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.splitlines()
            rep = [json.loads(x[len(REPORT_TAG):]) for x in lines
                   if x.startswith(REPORT_TAG)]
            if proc.returncode != 0 or not rep:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"[{w}] trace={trace} FAILED (exit {proc.returncode})")
                status = 1
                continue
            out[trace] = (rep[0], json.loads(lines[-1]))
        if 0 not in out:
            continue
        for name, (value, unit) in out[0][0]["report"].items():
            print(f"[{w}] {name} = {value:.6g} {unit}")
        if 1 in out:
            layer = out[1][1]["metrics"]
            for name in ("trace.coverage_frac", "trace.bookkeeping_s"):
                print(f"[{w}] {name} = {layer[name]['value']:.6g} "
                      f"{layer[name]['unit']}")
            for name, unit in E2E:
                a = out[0][0]["e2e"].get(name)
                b = out[1][0]["e2e"].get(name)
                if a and b and unit in ("s", "rows/s", "1/s"):
                    print(f"[{w}] tracing overhead on {name} = "
                          f"{(b - a) / a:+.2%} (traced {b:.6g} vs "
                          f"untraced {a:.6g} {unit})")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.harness import forbidden_env

    bad = forbidden_env(os.environ)
    if bad:
        print(f"refusing to run: {', '.join(bad)} set; the "
              "benchmark measures the package's defaults", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "duckdb_ann_spark")):
        print(f"duckdb_ann_spark not found under {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    os.chdir(ROOT)  # Python workers import the package from their cwd
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
