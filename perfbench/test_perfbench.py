"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import checks, gen, render, stats


@pytest.mark.parametrize("n, level", [
    (9, None), (20, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, level):
    assert stats.tail_percentile(n) == level


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(reversed(xs), 99.9) == 100
    assert stats.percentile([], 50) == 0.0


def _series(name, start, step, n, value=1.0):
    return {"target": name, "datapoints": [[value, start + i * step] for i in range(n)]}


def test_expected_points_follows_max_data_points():
    assert checks.expected_points(0, 960 * 3600, 3600, 500) == 480
    assert checks.expected_points(0, 21600, 1, 500) == 491  # ceil(21600 / 44)
    assert checks.expected_points(0, 480 * 3600, 3600, None) == 480


def test_render_grid_check_accepts_a_full_grid():
    body = [_series("a", 100, 7200, 480), _series("b", 100, 7200, 480)]
    assert checks.check_render_grid(body, 100, 100 + 960 * 3600, 3600, 500) == []


def test_render_grid_check_rejects_a_corrupted_reply():
    short = [_series("a", 100, 7200, 479)]
    assert checks.check_render_grid(short, 100, 100 + 960 * 3600, 3600, 500)
    shifted = [_series("a", 3700, 7200, 480)]
    assert checks.check_render_grid(shifted, 100, 100 + 960 * 3600, 3600, 500)
    assert checks.check_render_grid({"error": "x"}, 0, 3600, 3600, None)
    assert checks.check_render_grid([{"target": "a"}], 0, 3600, 3600, None)


def test_sum_series_check():
    a = {"target": "a", "datapoints": [[1.0, 0], [None, 10], [None, 20]]}
    b = {"target": "b", "datapoints": [[2.5, 0], [4.0, 10], [None, 20]]}
    good = [{"target": "sumSeries(x)", "datapoints": [[3.5, 0], [4.0, 10], [None, 20]]}]
    assert checks.check_sum_series([a, b], good) == []
    off = [{"target": "sumSeries(x)", "datapoints": [[3.5, 0], [4.1, 10], [None, 20]]}]
    assert checks.check_sum_series([a, b], off)
    zero_for_null = [{"target": "s", "datapoints": [[3.5, 0], [4.0, 10], [0.0, 20]]}]
    assert checks.check_sum_series([a, b], zero_for_null)
    assert checks.check_sum_series([a, b], good + good)


def test_query_check_is_order_independent_and_catches_a_wrong_result():
    df = pd.DataFrame({"b": [1.0, 2.0, None], "a": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    fp = checks.query_fingerprint
    assert checks.check_query("q", fp(shuffled), fp(df)) == []
    wrong = df.copy()
    wrong.loc[1, "b"] = 2.000001
    assert checks.check_query("q", fp(wrong), fp(df))
    assert checks.check_query("q", fp(df.rename(columns={"b": "c"})), fp(df))
    ints = pd.DataFrame({"n": [1, 2]})
    assert checks.check_query("q", fp(ints.astype(float)), fp(ints))
    assert checks.check_query("q", fp(ints.astype(float).iloc[:0]), fp(ints.iloc[:0])) == []


def test_tables_are_a_function_of_the_seed(tmp_path):
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        gen.write_tables(str(tmp_path / sub), seed, n_events=500, n_users=20,
                         n_docs=50, n_vecs=40)
    for t in ("events", "documents", "embeddings"):
        a, b, c = ((tmp_path / s / f"{t}.parquet").read_bytes() for s in "abc")
        assert a == b
        assert a != c


def test_request_mix_is_seeded_and_mostly_first_time_finds():
    mix = render.request_mix(7, 240, 150)
    assert mix == render.request_mix(7, 240, 150)
    assert mix != render.request_mix(8, 240, 150)
    assert [t for t, *_ in mix[:len(render.CYCLE)]] == list(render.CYCLE)
    finds = [q["query"] for t, _, q in mix if t == "find"]
    first_time = sum(1 for i, g in enumerate(finds) if g not in finds[:i])
    assert first_time >= 2 * len(finds) / 3 - 1
