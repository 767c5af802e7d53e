"""Scaling statistics of bench.py (``_finish_scaling``), Spark-free:
per-round N/4N ratios, the clamped best-round headline, the median and
the hardware-envelope normalization."""

from __future__ import annotations

import statistics

import pytest

from bench import _finish_scaling


def _finish(w2, w8, hw=0.8):
    out = {"hw_envelope": {"hw_scaling_efficiency_2_8": hw}}
    return _finish_scaling(out, {"local[2]": w2, "local[8]": w8, "local[32]": [1.0]})


def test_per_round_ratio_pairs_walls_of_the_same_round():
    # pairing sorted walls would give [1.0, 0.625, 0.6]
    r = _finish([10.0, 8.0, 12.0], [4.0, 2.0, 5.0])
    assert r["per_round_efficiency"] == [0.625, 1.0, 0.6]


def test_headline_is_best_round_clamped_at_one():
    r = _finish([8.0, 10.0], [4.0, 4.0])
    assert r["per_round_efficiency"] == [0.5, 0.625]
    assert r["scaling_efficiency"] == 0.625
    # a superlinear round (ratio 1.25) reports 1.0
    r = _finish([20.0, 8.0], [4.0, 4.0])
    assert r["per_round_efficiency"] == [1.25, 0.5]
    assert r["scaling_efficiency"] == 1.0


def test_median_is_median_of_per_round_ratios():
    r = _finish([8.0, 14.0, 12.0, 18.0], [4.0, 5.0, 5.0, 5.0])
    assert r["per_round_efficiency"] == [0.5, 0.7, 0.6, 0.9]
    assert r["median_efficiency"] == pytest.approx(
        statistics.median(r["per_round_efficiency"])
    )
    assert r["median_efficiency"] == pytest.approx(0.65)


def test_envelope_normalization():
    r = _finish([8.0, 12.0], [4.0, 5.0], hw=0.8)
    assert r["scaling_efficiency_vs_envelope"] == 0.75  # 0.6 / 0.8
    assert r["median_efficiency_vs_envelope"] == pytest.approx(0.688)  # 0.55 / 0.8
    r = _finish([8.0, 12.0], [4.0, 5.0], hw=0.0)
    assert r["scaling_efficiency_vs_envelope"] is None
    assert r["median_efficiency_vs_envelope"] is None
