"""bench.py's shared twin certificate: the drift rule and the twin sampler
that bench.py, tools/recalibrate_twins.py and the tools/*_sf1.py sidecars
all call."""
from __future__ import annotations

import bench


def test_twin_drift_band_edges_and_sf_dir():
    cal = {"sf_dir": bench.SF_DIR, "medians": {"twin_scan": 1.0}}
    for median, flagged in ((0.69, True), (0.71, False),
                            (1.42, False), (1.44, True)):
        ratios, drift = bench.twin_drift({"twin_scan": median}, cal)
        assert ratios == {"twin_scan": median}
        assert drift is flagged, median
    # tagged keys keep their tag and look up the probe after the last dot
    ratios, drift = bench.twin_drift(
        {"before.twin_scan": 0.71, "after.twin_scan": 1.44}, cal)
    assert ratios == {"before.twin_scan": 0.71, "after.twin_scan": 1.44}
    assert drift is True
    # a calibration recorded at another SF is not compared against
    other = dict(cal, sf_dir=bench.SF_DIR + "_elsewhere")
    assert bench.twin_drift({"twin_scan": 2.0}, other) == ({}, False)
    assert bench.twin_drift({"twin_scan": 2.0}, {}) == ({}, False)


def test_twin_pass_one_sample_per_probe(spark, monkeypatch):
    stubs = {"stub_a": lambda s, sf: s.range(5),
             "stub_b": lambda s, sf: s.range(3).selectExpr("id * 2 AS x")}
    monkeypatch.setattr(bench, "_TWIN_PROBES", stubs)
    out = bench.twin_pass(spark, "test")
    assert sorted(out) == ["stub_a", "stub_b"]
    assert all(isinstance(t, float) and t >= 0 for t in out.values())
    assert sorted(bench.twin_median(spark, "test")) == ["stub_a", "stub_b"]
