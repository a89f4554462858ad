"""bench.run_scaling rejects a cluster topology it cannot build before it
spends any time calibrating the host or starting Spark."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("n_low", [1, 3, 5])
def test_run_scaling_rejects_unsplittable_n_low(n_low, monkeypatch):
    def no_calibration(*_):
        raise AssertionError("calibration ran before the topology check")

    monkeypatch.setattr(bench, "_effective_cores", no_calibration)
    monkeypatch.setattr(bench, "_effective_bandwidth", no_calibration)
    with pytest.raises(ValueError, match=f"n_low={n_low}"):
        bench.run_scaling("/nonexistent/sf0.01", n_low=n_low, cluster=True)
