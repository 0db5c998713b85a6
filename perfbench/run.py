"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its input tables, starts
the engine's Spark session on local[<cores of this process>] and sets the
workload up cold (view caches rebuilt, layouts materialized): `setup_s` is
the session start plus that set-up.  It then runs whole passes of the
workload in a closed loop, at least one and as many more as fit in
`--seconds`, and checks every result.  Each run is a fresh driver, so the
first pass also pays the JVM's warm-up, the same on every run.  Everything
the run writes stays under `.perfbench/` in the repository root.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`.  With `--trace 0` the
metrics are the end-to-end ones (`END_TO_END`); with `--trace 1` they are
the per-layer ones, and the run also writes its spans to
`.perfbench/out/`.  The line before it is a report: the environment, the
set-up breakdown and the workload's own metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench", "run")   # emptied by every run
OUT = os.path.join(ROOT, ".perfbench", "out")    # traced runs' spans

DRIVER_MEMORY = "2g"
TIME_LIMIT_S = 175    # a run that has not finished by then fails

# Wall times on a shared 4-core box spread by up to a fifth between runs
# of identical work, so the gated metrics are CPU seconds and the engine's
# Spark job count; wall times are in the report line and `bench.*`.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "jobs": "count"}
BENCH_LAYER = {"bench.pass_s": "s", "bench.op_gm_ms": "ms",
               "bench.trace_overhead_s": "s", "bench.peak_rss_mb": "MB"}


def _isolate(cores: int) -> dict:
    """Point every scratch location of Python, the JVM and Spark into the
    work directory and pin the session's size.  Returns the environment
    values it replaced, for the report."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    before = {k: os.environ.get(k) for k in
              ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")}
    # every run is a fresh, short-lived driver JVM: C1-only compilation keeps
    # the JIT from competing with the task threads for the cores, which
    # made the run-to-run spread of pass_s smaller
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # the driver JVM, and the short-lived JVM that builds its command line
        "SPARK_SUBMIT_OPTS": jvm_opts,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
    })
    import tempfile
    tempfile.tempdir = tmp
    os.chdir(WORK)  # the catalog's warehouse dir lands here too
    return before


def _redirect_view_cache(cache_root: str) -> None:
    """GraphStore caches its derived views under the system temp dir; keep
    them in the work directory so the run can remove and rebuild them."""
    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    default = GraphStore._cache_path

    def in_work_dir(self, name: str) -> str:
        path = default(self, name)
        key = os.path.basename(os.path.dirname(path))
        return os.path.join(cache_root, key, os.path.basename(path))

    GraphStore._cache_path = in_work_dir


def _source_digest() -> str:
    h = hashlib.md5()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, dirs, names in os.walk(os.path.join(ROOT, "hugegraph_on_tikv_spark")):
        dirs.sort()
        files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def _stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def _gm(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S}s")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)

    import workloads
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {workloads.WORKLOADS}")

    shutil.rmtree(WORK, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    env_before = _isolate(cores)
    sys.path.insert(0, ROOT)
    # the engine is imported first: without it the run fails right here
    import __spark_entry__  # noqa: F401
    from hugegraph_on_tikv_spark.session import get_spark

    import datagen
    from spans import Recorder, SparkCounters, per_layer_names

    data_dir = os.path.join(WORK, "data")
    tables = datagen.write(data_dir)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("FATAL")
        counters = SparkCounters(spark)
        rec = Recorder(counters, cores, trace=bool(args.trace))
        ctx = workloads.Context(spark, rec, data_dir, WORK, tables, args.seed)
        _redirect_view_cache(ctx.cache_root)
        wl = workloads.make(args.workload, ctx)

        # -- set-up: the workload's cold set-up, timed as one unit ---------
        with rec.span(f"workload:{args.workload}"):
            with rec.span("setup"):
                t0 = time.perf_counter()
                prep = wl.prepare()
                prepare_s = time.perf_counter() - t0
            setup_s = session_start_s + prepare_s

            # -- timed window: whole passes while one more still fits -----
            passes, cpu, jobs, per_kind, first = [], [], [], {}, None
            t_win = time.perf_counter()
            while True:
                rec.reset_totals()
                with rec.span("pass", index=len(passes)):
                    cpu0 = counters.cpu_s()
                    t0 = time.perf_counter()
                    lat, checking = wl.run_pass(timed=True)
                    passes.append(time.perf_counter() - t0 - checking)
                    cpu.append(counters.cpu_s() - cpu0)
                    jobs.append(rec.jobs)
                for kind, secs in lat:
                    per_kind.setdefault(kind, []).append(secs)
                if first is None:
                    first = (rec.per_layer(), rec.trace_s)
                elapsed = time.perf_counter() - t_win
                if elapsed + statistics.median(passes) > args.seconds:
                    break
            window_s = time.perf_counter() - t_win
        wl.check()
        report = wl.report()
        env = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "nproc": cores,
            "SPARK_GRAFT_CPUS": env_before["SPARK_GRAFT_CPUS"],
            "driver_memory": DRIVER_MEMORY,
            "data": os.path.relpath(data_dir, ROOT),
            "data_seed": datagen.DATA_SEED,
            "seed": args.seed,
            "spark": spark.version,
            "python": platform.python_version(),
            "git_commit": _git_commit(),
            "source_md5": _source_digest(),
        }
    finally:
        _stop_jvm(spark)

    kb_self = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb_jvm = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    op_medians = [statistics.median(v) for v in per_kind.values()]
    if not op_medians:
        raise RuntimeError(f"no op succeeded: {wl.problems[:3]}")
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(cpu),
        "jobs": statistics.median(jobs),
    }
    op_gm_ms = _gm(op_medians) * 1000.0
    peak_rss_mb = (kb_self + kb_jvm) / 1024.0
    setup = {"session_start_s": session_start_s, "prepare_s": prepare_s, **prep}
    failed = len(wl.problems)
    report_doc = {
        "workload": args.workload, "trace": args.trace, "env": env,
        "setup": setup, "passes": len(passes), "pass_s": passes,
        "pass_cpu_s": cpu, "jobs": jobs, "op_gm_ms": op_gm_ms,
        "window_s": window_s, "peak_rss_mb": peak_rss_mb,
        "op_median_ms": {k: statistics.median(v) * 1000.0 for k, v in per_kind.items()},
        "workload_metrics": report, "fail_ratio": failed / max(wl.attempted, 1),
        "problems": wl.problems[:20],
    }

    if args.trace:
        layer, trace_s = first
        extra = {"session.start_s": session_start_s,
                 "sources.graph.cache_build_s": prep.get("cache_build_s", 0.0)}
        if args.workload == "graph_rw":
            extra["sources.edge_layout.materialize_s"] = prep["materialize_s"]
            extra["sources.edge_layout.write_amp"] = report["write_amp"] or 0.0
            extra["sources.edge_layout.space_amp"] = report["space_amp"]
        layer.update({k: float(extra[k]) for k in extra})
        layer["bench.pass_s"] = passes[0]
        layer["bench.op_gm_ms"] = op_gm_ms
        layer["bench.trace_overhead_s"] = trace_s
        layer["bench.peak_rss_mb"] = peak_rss_mb
        units = {n: _layer_unit(n) for n in per_layer_names()} | BENCH_LAYER
        metrics = {n: {"value": layer[n], "unit": units[n]} for n in units}
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"report": report_doc, "spans": rec.spans}, f, default=str)
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}

    for p in wl.problems:
        print(f"FAILED {p}", file=sys.stderr)
    print(json.dumps({"report": report_doc}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}))
    signal.alarm(0)
    return 0


def _layer_unit(name: str) -> str:
    key = name.rpartition(".")[2]
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key in ("core_util", "write_amp", "space_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
