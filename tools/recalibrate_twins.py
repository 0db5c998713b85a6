"""Deliberate BENCH_TWIN.json recalibration (NOTES rule 20).

Runs the three FROZEN twin probes from bench.py under bench.py's own
warm-up and isolated timer (`bench.warm_up`, `bench.twin_pass`), takes the
median of N_SAMPLES samples per probe on an idle box, and rewrites
BENCH_TWIN.json through `bench.write_artifact` (so it records its box).

Rationale: VERDICT r6 item 5 — `twin_join_agg` sat at 1.17-1.26x its
round-5 calibration across three consecutive drift-clean runs; the box's
steady state drifted and the drift flag was losing sensitivity on the
probe that guards join-heavy numbers.  Recalibrating moves the reference
point, NOT the probes (the probes stay frozen per rule 20).
"""
from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hugegraph_on_tikv_spark.session import get_spark  # noqa: E402

N_SAMPLES = 7


def main() -> None:
    spark = get_spark("twin-recalibration")
    bench.warm_up(spark)
    passes = [bench.twin_pass(spark, f"pass {i}") for i in range(N_SAMPLES)]
    samples = {p: [ps[p] for ps in passes] for p in bench._TWIN_PROBES}
    medians = {p: round(statistics.median(s), 3) for p, s in samples.items()}
    bench.write_artifact(spark, "BENCH_TWIN.json", {
        "medians": medians,
        "samples": samples,
        "sf_dir": bench.SF_DIR,
        "note": ("pinned-twin calibration per NOTES rule 20 (median of %d "
                 "isolated idle-box samples); annotate the round and the "
                 "superseded medians after running" % N_SAMPLES),
    })
    print(json.dumps(medians))


if __name__ == "__main__":
    main()
