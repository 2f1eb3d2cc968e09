"""Output checks: every run verifies what the program returned.

A check returns a list of problems (empty = correct); the workloads count
a request or query with any problem as failed.
"""

from __future__ import annotations

import functools
import importlib.util
import math
import os


def expected_points(start: int, end: int, step: int, max_points: int | None) -> int:
    """Datapoints per series on the aligned grid ``[start, end)`` after
    graphite's ``maxDataPoints`` consolidation (groups of
    ``ceil(n / max_points)`` buckets)."""
    n = max(1, (end - start) // step)
    if max_points and n > max_points:
        factor = -(-n // max_points)
        return -(-n // factor)
    return n


def check_render_grid(series: list, start: int, end: int, step: int,
                      max_points: int | None) -> list[str]:
    """Each series of a ``/render`` json body covers the whole consolidated
    grid: the expected count of datapoints, evenly spaced from ``start``."""
    if not isinstance(series, list):
        return [f"body is {type(series).__name__}, not a list"]
    want = expected_points(start, end, step, max_points)
    problems = []
    for s in series:
        pts = s.get("datapoints") if isinstance(s, dict) else None
        if not isinstance(pts, list):
            problems.append(f"series without datapoints: {str(s)[:80]}")
            continue
        if len(pts) != want:
            problems.append(f"{s.get('target')}: {len(pts)} datapoints, expected {want}")
            continue
        ts = [p[1] for p in pts]
        if ts[0] != start or any(b <= a for a, b in zip(ts, ts[1:])):
            problems.append(f"{s.get('target')}: grid does not start at {start} "
                            "or is not increasing")
    return problems


def check_sum_series(members: list, summed: list, rel_tol: float = 1e-9) -> list[str]:
    """``sumSeries(g)`` equals the pointwise sum of ``g``'s series: nulls
    are skipped and a bucket where every member is null stays null."""
    if len(summed) != 1:
        return [f"sumSeries returned {len(summed)} series, expected 1"]
    if not members:
        return ["glob matched no series"]
    got = summed[0]["datapoints"]
    problems = []
    for i, (value, ts) in enumerate(got):
        vals = []
        for m in members:
            if i >= len(m["datapoints"]) or m["datapoints"][i][1] != ts:
                return [f"member {m['target']} is not aligned with the sum at {ts}"]
            if m["datapoints"][i][0] is not None:
                vals.append(m["datapoints"][i][0])
        want = math.fsum(vals) if vals else None
        if (want is None) != (value is None) or (
            want is not None and not math.isclose(value, want, rel_tol=rel_tol, abs_tol=1e-9)
        ):
            problems.append(f"sum at {ts}: {value!r}, expected {want!r}")
    return problems[:5]


@functools.cache
def oracle_check():
    """``scripts/oracle_check.py``, the repo's local replica of the
    correctness gate, loaded from the checkout on first use so the
    benchmark compares results exactly as that gate does."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_fingerprint(df) -> tuple[int, list[str], str, list[str]]:
    """(row count, sorted column names, order-independent value hash,
    column dtype kinds) of a pandas frame, from ``oracle_check``."""
    gate = oracle_check()
    n, cols, h, _ = gate.frame_fingerprint(df)
    return n, cols, h, gate.dtype_kinds(df)


def check_query(name: str, got: tuple, want: tuple) -> list[str]:
    """Spark's fingerprint against the oracle's, as ``oracle_check`` judges
    them: rows, columns and hash equal, and no int-vs-float disagreement
    between column kinds (an empty result hashes equal whatever its
    dtypes)."""
    (gn, gcols, gh, gkinds), (wn, wcols, wh, wkinds) = got, want
    problems = []
    if (gn, gcols, gh) != (wn, wcols, wh):
        problems.append(f"{name}: rows/cols/hash {gn}/{gcols}/{gh}, expected {wn}/{wcols}/{wh}")
    if gn and any("f" in (g, w) and g != w and {g, w} & {"i", "u"}
                  for g, w in zip(gkinds, wkinds)):
        problems.append(f"{name}: dtype kinds {gkinds}, expected {wkinds}")
    return problems
