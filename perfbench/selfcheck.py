"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py            # all checks (about 10 minutes)
    python3 perfbench/selfcheck.py --quick    # the planning check only

1. plans: one seed yields the same `graph_rw` op list and mutation batches
   twice, and another seed yields a different one (pure Python, no Spark);
2. metrics: an untraced and a traced run of every workload print every
   metric BENCHMARK.json names, with its unit, and no failed op;
3. counters: two traced runs with the same seed report identical `jobs`,
   `stages` and `buckets_rewritten` for every layer;
4. no engine: in a directory holding only BENCHMARK.json and the benchmark,
   the run exits non-zero without printing a result.

Exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DETERMINISTIC = ("jobs", "stages", "buckets_rewritten")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_plans() -> list[str]:
    sys.path.insert(0, ROOT)
    import datagen
    import workloads

    tables = datagen.tables()

    def plan(seed: int) -> str:
        ctx = workloads.Context(None, None, "", "", tables, seed)
        wl = workloads.GraphRW(ctx)
        return json.dumps([wl.plan_pass() for _ in range(3)], default=str)

    out = []
    if plan(7) != plan(7):
        out.append("plans: seed 7 gave two different op lists")
    if plan(7) == plan(8):
        out.append("plans: seeds 7 and 8 gave the same op list")
    return out


def _run(cwd: str, workload: str, seed: int, trace: int, seconds: int = 1):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(p) -> dict | None:
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]) if p.returncode == 0 and lines else None


def check_runs() -> list[str]:
    spec = _spec()
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    out = []
    for wl in (w["name"] for w in spec["workloads"]):
        counters = []
        for trace in (0, 1, 1):
            res = _result(_run(ROOT, wl, 3, trace))
            if res is None:
                out.append(f"{wl} trace={trace}: run failed")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                out.append(f"{wl} trace={trace}: metrics differ from BENCHMARK.json: "
                           f"{sorted(set(got) ^ set(want[trace]))[:5]}")
            if not res["correct"] or res["failed"]:
                out.append(f"{wl} trace={trace}: {res['failed']} of {res['attempted']} ops failed")
            if trace:
                counters.append({k: v["value"] for k, v in res["metrics"].items()
                                 if k.rpartition(".")[2] in DETERMINISTIC})
        if len(counters) == 2 and counters[0] != counters[1]:
            diff = [k for k in counters[0] if counters[0][k] != counters[1].get(k)]
            out.append(f"{wl}: counters differ between two traced runs: {diff}")
    return out


def check_no_engine() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in _spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _run(bare, _spec()["workloads"][0]["name"], 1, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        return ["no engine: the run did not fail"]
    return []


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--quick", action="store_true", help="planning check only")
    args = ap.parse_args()
    problems = check_plans()
    if not args.quick:
        problems += check_no_engine() + check_runs()
    for p in problems:
        print(f"FAILED {p}")
    print("selfcheck:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
