"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship read on sf0.001 (smoke).
``queries()``      — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()``   — DuckDB-equivalent SQL per query (the correctness gate).

Every Spark query and its oracle share the events->metric derivation
declared in ``biggraphite_spark.sources.events`` (ORACLE_* fragments) so the
two sides compute the same thing by construction.  All float outputs are
rounded in-query on BOTH sides: an unrounded sum(double) hash-mismatches
across engines from FP summation order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biggraphite_spark.functions.aggregators import final_value_expr, xff_filter_expr
from biggraphite_spark.model import Stage
from biggraphite_spark.operators.downsample import (
    bucket_col,
    downsample_stage0,
    rollup_partials,
    with_aggregator,
)
from biggraphite_spark.operators.fetch import fetch_points
from biggraphite_spark.operators.find import find_metrics
from biggraphite_spark.operators.gapfill import dense_series
from biggraphite_spark.globs import compile_glob
from biggraphite_spark.sources.testdata import load_parallel as _load_parallel
from biggraphite_spark.sources.testdata import load_table as _load_table
from biggraphite_spark.sources.events import (
    NOW,
    ORACLE_AGG,
    ORACLE_NAME,
    ORACLE_TS,
    RETENTION,
    event_ts_nanos,
    event_ts_seconds,
    load_catalog,
    load_events,
    load_stage0,
    metric_name_col,
)

STAGE1 = Stage.from_string("1000*3600s")
STAGE2 = Stage.from_string("100*86400s")
DATA_START = 1704067200  # 2024-01-01 00:00:00 UTC

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}
#: name -> {"max_sf": float, "reason": str}: queries that are
#: quadratic-BY-DESIGN exact baselines, adjudicated not-to-run above a
#: scale.  bench.py reads this and records a skipped-with-reason entry
#: instead of a timeout/disk error; the schema is pinned by
#: tests/test_scale_domains.py.  Every entry names its production sibling.
_SCALE_DOMAINS: dict[str, dict] = {}


def _register(name: str, oracle=None, scale_domain: dict | None = None):
    """Register a contract query; ``oracle`` is either an ANSI-SQL string or
    a zero-arg callable returning one (for python-twin literal oracles that
    are computed lazily — see oracle_twins.py).  ``scale_domain`` tags a
    deliberately-bounded baseline with the largest sf it should be measured
    at and the reason (including its production sibling)."""

    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        if scale_domain is not None:
            _SCALE_DOMAINS[name] = scale_domain
        return fn

    return deco


def scale_domains() -> dict[str, dict]:
    """Machine-readable scale adjudications for bench.py: which registered
    queries are exact quadratic baselines that must not be measured above
    ``max_sf``, and why (each reason names the production sibling that IS
    measured at every scale)."""
    return dict(_SCALE_DOMAINS)


def _twin(fn_name: str):
    """Lazy oracle backed by oracle_twins.py (plain-python twin, no Spark /
    package imports): resolved only when oracle_sql() materializes, so
    importing this module stays cheap."""

    def thunk() -> str:
        import importlib
        import sys

        here = os.path.dirname(os.path.abspath(__file__))
        if here not in sys.path:
            sys.path.insert(0, here)
        twins = importlib.import_module("oracle_twins")
        # resolve the sf_dir env var BEFORE the twin's lru_cache boundary —
        # the *_sql twins cache on their argument, so caching on the
        # sentinel None would return stale results if the env var changes
        # mid-process (e.g. a future second-scale oracle pass)
        return getattr(twins, fn_name)(twins._sf_dir())

    return thunk


def _utc(spark: SparkSession) -> None:
    # the driver may hand us a non-UTC session; timestamp-literal filters and
    # unix_timestamp() must agree with DuckDB's UTC-naive view of parquet
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: sf_dir -> materialized 1h-stage DataFrame (set by materialize_store);
#: when present, every query reads write-time partials instead of
#: recomputing the rollup from raw — the deployed read path
_STAGE1_OVERRIDE: dict[str, DataFrame] = {}


def _stage1_from_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = load_catalog(spark, sf_dir)
    points0 = load_stage0(spark, sf_dir)
    return downsample_stage0(with_aggregator(points0, catalog), STAGE1)


def _stage1(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _STAGE1_OVERRIDE.get(sf_dir)
    if df is not None:
        return df
    return _stage1_from_raw(spark, sf_dir)


def _source_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the stage1 source (events.parquet): per-file
    (name, mtime_ns, size).  Cheap (stat only), and any regeneration of the
    dataset — even same-size — bumps mtime."""
    p = os.path.join(sf_dir, "events.parquet")
    parts = []
    if os.path.isdir(p):
        for f in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, f))
            parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(p):
        st = os.stat(p)
        parts.append(f"events.parquet:{st.st_mtime_ns}:{st.st_size}")
    return "|".join(parts)


def materialize_store(spark: SparkSession, sf_dir: str, base_dir: str | None = None,
                      bucketed: bool = True) -> dict[str, float]:
    """Materialize the 1h stage into a PointStore (plain day-partitioned +
    name-bucketed) and switch every query's ``_stage1`` to read it.

    This is the deployment shape: rollups happen once at write time
    (storage.py write path), reads never recompute from raw — PERF.md r1
    measured ~70% of each gr_* query's cost as exactly that recompute.
    The bucketed variant additionally hands reads HashPartitioning(name),
    so (name,·)-keyed regroups and window functions skip their exchange.
    Returns the materialization timings (reported by bench.py next to, not
    inside, the per-query numbers).
    """
    import time as _time

    from biggraphite_spark.storage import PointStore

    base = base_dir or os.environ.get("SPARK_GRAFT_STORE_DIR") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".pointstore",
        os.path.basename(sf_dir.rstrip("/")),
    )
    store = PointStore(base)
    timings: dict[str, float] = {}
    # SPARK_GRAFT_REUSE_STORE=1 skips the rewrite when the store already
    # holds this sf_dir's stage1 (bench reruns at big SFs: the sf10 write
    # costs ~5 min and the data is immutable between runs).  Reuse is only
    # valid when (a) every layout a read could select exists — the bucketed
    # path too when bucketed=True, since SPARK_GRAFT_STORE_MODE=bucketed is
    # decided below — and (b) the stored source fingerprint matches: a
    # regenerated sf_dir with the same basename must invalidate the store,
    # not silently serve the previous generation's stage1.
    fp_path = os.path.join(base, ".source_fingerprint")
    fp_now = _source_fingerprint(sf_dir)
    layouts_ok = os.path.isdir(store.stage_path(STAGE1)) and (
        not bucketed or os.path.isdir(store.stage_path(STAGE1) + "_bucketed")
    )
    fp_ok = False
    if layouts_ok and os.path.exists(fp_path):
        with open(fp_path) as fh:
            fp_ok = fh.read() == fp_now
    if os.environ.get("SPARK_GRAFT_REUSE_STORE") and layouts_ok and fp_ok:
        timings["materialize_reused"] = 1.0
    else:
        raw = _stage1_from_raw(spark, sf_dir)
        t0 = _time.time()
        store.write(raw, STAGE1)
        timings["materialize_plain_sec"] = round(_time.time() - t0, 3)
        if bucketed:
            t0 = _time.time()
            store.write_bucketed(raw, STAGE1)
            timings["materialize_bucketed_sec"] = round(_time.time() - t0, 3)
        with open(fp_path, "w") as fh:
            fh.write(fp_now)
    # which layout serves reads: bucketed trades one exchange per regroup
    # for (n_buckets x n_days) files — the right trade on a cluster, but on
    # the local bench the 992-small-file listing costs more than the
    # exchange it saves, so plain is the default read side here
    mode = os.environ.get("SPARK_GRAFT_STORE_MODE", "plain")
    if mode == "bucketed" and bucketed:
        _STAGE1_OVERRIDE[sf_dir] = store.read_bucketed(spark, STAGE1)
    else:
        _STAGE1_OVERRIDE[sf_dir] = store.read(spark, STAGE1)
    return timings


# ---------------------------------------------------------------------------
# SQL building blocks shared by the oracles
# ---------------------------------------------------------------------------

_PTS = (
    f"SELECT {ORACLE_NAME} AS name, {ORACLE_AGG} AS aggregator, "
    f"{ORACLE_TS} AS sec, value, ts AS rts FROM events"
)


def _oracle_partials(precision: int) -> str:
    """Per-(name, bucket) partial (value, pcount) from raw events — what the
    write-time downsampler stores (average carries the sum)."""
    return f"""
        SELECT name, aggregator, (sec // {precision}) * {precision} AS ts,
               CASE aggregator
                 WHEN 'minimum' THEN min(value)
                 WHEN 'maximum' THEN max(value)
                 WHEN 'last'    THEN arg_max(value, rts)
                 ELSE sum(value) END AS value,
               CAST(count(value) AS BIGINT) AS pcount
        FROM pts GROUP BY name, aggregator, (sec // {precision}) * {precision}
    """


def _oracle_final(precision: int, where: str = "TRUE") -> str:
    """Per-(name, bucket) read-time final scalar from raw events."""
    return f"""
        SELECT name, (sec // {precision}) * {precision} AS ts,
               CASE aggregator
                 WHEN 'average' THEN sum(value) / count(value)
                 WHEN 'total'   THEN sum(value)
                 WHEN 'minimum' THEN min(value)
                 WHEN 'maximum' THEN max(value)
                 ELSE arg_max(value, rts) END AS value
        FROM pts WHERE {where}
        GROUP BY name, aggregator, (sec // {precision}) * {precision}
    """


# ---------------------------------------------------------------------------
# BigGraphite surface: catalog / find / downsample / fetch / gap-fill / xff
# ---------------------------------------------------------------------------

_CATALOG_ORACLE = f"""
WITH m AS (
  SELECT {ORACLE_NAME} AS name, {ORACLE_AGG} AS aggregator,
         event_type, user_id,
         min({ORACLE_TS}) AS created_on, max({ORACLE_TS}) AS updated_on,
         CAST(count(*) AS BIGINT) AS point_count
  FROM events GROUP BY 1, 2, 3, 4
)
SELECT name, sha256(name) AS id, aggregator,
       '{RETENTION.as_string()}' AS retention,
       CAST(0.5 AS DOUBLE) AS xfilesfactor,
       created_on, updated_on, point_count,
       'bg' AS p0, event_type AS p1,
       concat('u', CAST(user_id AS VARCHAR)) AS p2,
       CAST(NULL AS VARCHAR) AS p3,
       CAST(2 AS BIGINT) AS depth,
       concat('bg.', event_type) AS parent
FROM m
"""


@_register("bg_catalog", _CATALOG_ORACLE)
def bg_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric catalog derivation (SURVEY §1.5, FIXTURES §1): name structure
    columns p0..p3/depth/parent + lifecycle timestamps from the stream."""
    _utc(spark)
    return load_catalog(spark, sf_dir).select(
        "name",
        "id",
        "aggregator",
        "retention",
        "xfilesfactor",
        "created_on",
        "updated_on",
        "point_count",
        "p0",
        "p1",
        "p2",
        "p3",
        F.col("depth").cast("long").alias("depth"),
        "parent",
    )


FIND_PATTERNS = (
    "bg.click.*",
    "bg.{view,error}.u1?",
    "bg.*.u[0-3]",
    "bg.**.u7",
    "?g.purchase.u*",
    "bg.purchase.u42",
)


def _find_oracle() -> str:
    selects = []
    for pat in FIND_PATTERNS:
        rx = "^(?:" + compile_glob(pat).regex + ")$"
        rx_sql = rx.replace("'", "''")
        selects.append(
            f"SELECT '{pat}' AS pattern, name FROM m WHERE regexp_matches(name, '{rx_sql}')"
        )
    union = " UNION ALL ".join(selects)
    return f"WITH m AS (SELECT DISTINCT {ORACLE_NAME} AS name FROM events) {union}"


@_register("bg_find", _find_oracle())
def bg_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob find over the catalog (SURVEY §2.2 P2-P8): pushdown predicates on
    p0..pN/depth + authoritative rlike residual, for a pattern battery that
    exercises wildcards, braces, char classes, globstar and exact lookups."""
    _utc(spark)
    # cached: the catalog subtree feeds one branch per pattern and Spark
    # would otherwise recompute the events scan + groupBy six times
    catalog = load_catalog(spark, sf_dir).cache()
    parts = [
        find_metrics(catalog, pat).select(F.lit(pat).alias("pattern"), "name")
        for pat in FIND_PATTERNS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_DOWNSAMPLE_1H_ORACLE = f"""
WITH pts AS ({_PTS}), d AS ({_oracle_partials(3600)})
SELECT name, ts, ROUND(value, 6) AS value, pcount, aggregator FROM d
"""


@_register("bg_downsample_1h", _DOWNSAMPLE_1H_ORACLE)
def bg_downsample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time rollup stage0 -> 1h (SURVEY §2.3 A3): one windowed
    aggregation keyed (name, bucket); average stored as (sum, count)."""
    _utc(spark)
    df = _stage1(spark, sf_dir)
    return df.select(
        "name", "ts", F.round("value", 6).alias("value"),
        F.col("count").alias("pcount"), "aggregator",
    )


_DOWNSAMPLE_1D_ORACLE = f"""
WITH pts AS ({_PTS}), d AS ({_oracle_partials(86400)})
SELECT name, ts, ROUND(value, 6) AS value, pcount, aggregator FROM d
"""


@_register("bg_downsample_1d", _DOWNSAMPLE_1D_ORACLE)
def bg_downsample_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded rollup 1h -> 1d using merge-of-partials semantics
    (Aggregator.merge, metric.py:218-261) — the oracle recomputes from raw,
    so this checks merge(partials) == recompute identity."""
    _utc(spark)
    df = rollup_partials(_stage1(spark, sf_dir), STAGE2)
    return df.select(
        "name", "ts", F.round("value", 6).alias("value"),
        F.col("count").alias("pcount"), "aggregator",
    )


_DUPSLOT_ORACLE = f"""
WITH pts AS ({_PTS}),
p AS (SELECT name, aggregator, sec, value, epoch_ns(rts) AS rns FROM pts
      WHERE starts_with(name, 'bg.purchase.')),
aug AS (
  SELECT name, aggregator, sec, value, rns FROM p
  UNION ALL
  SELECT name, aggregator, sec, value * 3 + 1, rns + 1 FROM p
),
slots AS (
  -- newest-wins per slot; (sec, rns) lexicographic == rns alone, since
  -- sec is rns // 1e9 (monotone in rns)
  SELECT name, aggregator, (sec // 60) * 60 AS ts,
         arg_max(value, rns) AS value
  FROM aug GROUP BY 1, 2, 3
),
d AS (
  SELECT name, aggregator, (ts // 3600) * 3600 AS hts,
         CASE aggregator WHEN 'minimum' THEN min(value)
              WHEN 'maximum' THEN max(value)
              WHEN 'last' THEN arg_max(value, ts)
              ELSE sum(value) END AS value,
         CAST(count(value) AS BIGINT) AS pcount
  FROM slots GROUP BY 1, 2, 3
)
SELECT name, hts AS ts, ROUND(value, 6) AS value, pcount, aggregator FROM d
"""


@_register("bg_downsample_dupslots", _DUPSLOT_ORACLE)
def bg_downsample_dupslots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage0 slot semantics composed into the default pipeline (SURVEY
    §2.3 A3, reference ring buffer drivers/_downsampling.py:128-189):
    every purchase point is resent once as a correction in the SAME 60s
    stage0 slot (same second, arrival +1ns, value*3+1).  newest-wins must
    aggregate the correction only — the pre-fix pipeline summed both,
    doubling count and corrupting averages.  Runs downsample_all, which
    now normalizes slots before the first aggregation."""
    _utc(spark)
    from biggraphite_spark.model import Retention
    from biggraphite_spark.operators.downsample import downsample_all

    ev = load_events(spark, sf_dir)
    pts = (
        ev.select(
            metric_name_col().alias("name"),
            event_ts_seconds(ev).alias("ts"),
            F.when(F.isnan("value"), None).otherwise(F.col("value")).alias("value"),
            event_ts_nanos(ev).alias("rns"),  # arrival order: unix nanos (dtype-dispatched)
        )
        .filter(F.col("name").startswith("bg.purchase."))
    )
    corrected = pts.select(
        "name", "ts", (F.col("value") * 3 + 1).alias("value"),
        (F.col("rns") + 1).alias("rns"),
    )
    aug = pts.unionByName(corrected)
    catalog = load_catalog(spark, sf_dir)
    ret = Retention.from_string("44640*60s:1000*3600s")
    tables = downsample_all(aug, catalog, list(ret.stages), arrival_col="rns")
    df = tables["1000*3600s"]
    return df.select(
        "name", "ts", F.round("value", 6).alias("value"),
        F.col("count").alias("pcount"), "aggregator",
    )


_FETCH_1D_ORACLE = f"""
WITH pts AS ({_PTS}),
d AS ({_oracle_final(86400, where=f"sec >= {DATA_START} AND sec < {NOW}")})
SELECT name, ts, ROUND(value, 6) AS value FROM d
"""


@_register("bg_fetch_1d", _FETCH_1D_ORACLE)
def bg_fetch_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read path (SURVEY §2.1 S1 + §2.3 A4): [start, end) slice of the 1h
    stage regrouped to 1d buckets with final aggregation (avg = sum/count)."""
    _utc(spark)
    catalog = load_catalog(spark, sf_dir)
    fetched = fetch_points(
        _stage1(spark, sf_dir), catalog, DATA_START, NOW, target=STAGE2
    )
    return fetched.select("name", "ts", F.round("value", 6).alias("value"))


_READ_ALIGNED_START, _READ_ALIGNED_END, _READ_STAGE = RETENTION.align_time_window(
    NOW - 40 * 86400, NOW, NOW
)
assert _READ_STAGE.as_string() == "1000*3600s"

_READ_RX = ("^(?:" + compile_glob("bg.purchase.u1*").regex + ")$").replace("'", "''")
_READ_ALIGNED_ORACLE = f"""
WITH pts AS ({_PTS}),
d AS ({_oracle_final(3600, where=(
    f"sec >= {_READ_ALIGNED_START} AND sec < {_READ_ALIGNED_END} "
    f"AND regexp_matches(name, '{_READ_RX}')"))})
SELECT name, ts, ROUND(value, 6) AS value FROM d
"""


@_register("bg_read_aligned", _READ_ALIGNED_ORACLE)
def bg_read_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full read lifecycle (SURVEY §3.1): glob find -> align_time_window
    (plan-time stage selection: a 40-day window falls off stage0's horizon
    onto the 1h stage) -> fetch + regroup."""
    _utc(spark)
    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.purchase.u1*")
    start, end, stage = RETENTION.align_time_window(NOW - 40 * 86400, NOW, NOW)
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, start, end, target=stage)
    return fetched.select("name", "ts", F.round("value", 6).alias("value"))


_GAP_START = NOW - 10 * 86400
_GAP_RX = ("^(?:" + compile_glob("bg.error.u*").regex + ")$").replace("'", "''")
_GAPFILL_ORACLE = f"""
WITH pts AS ({_PTS}),
m AS (SELECT DISTINCT name FROM pts WHERE regexp_matches(name, '{_GAP_RX}')),
d AS ({_oracle_final(86400, where=f"sec >= {_GAP_START} AND sec < {NOW}")}),
grid AS (SELECT m.name, g.ts FROM m
         CROSS JOIN (SELECT CAST(ts AS BIGINT) AS ts
                     FROM generate_series({_GAP_START}, {NOW - 86400}, 86400) t(ts)) g)
SELECT grid.name, grid.ts, ROUND(d.value + 1.23e-9, 6) AS value
FROM grid LEFT JOIN d ON d.name = grid.name AND d.ts = grid.ts
"""


@_register("bg_gapfill_1d", _GAPFILL_ORACLE)
def bg_gapfill_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense render grid (SURVEY §2.5 W5): sequence+explode grid per matched
    metric, left-joined with fetched buckets; holes stay null."""
    _utc(spark)
    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.error.u*")
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, _GAP_START, NOW, target=STAGE2)
    dense = dense_series(fetched, metrics, _GAP_START, NOW, 86400)
    return dense.select(
        "name", "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value")
    )


_XFF_ORACLE = f"""
WITH pts AS ({_PTS}),
h AS ({_oracle_partials(3600)}),
d AS (
  SELECT name, aggregator, (ts // 86400) * 86400 AS ts,
         CASE aggregator
           WHEN 'average' THEN sum(value) / sum(pcount)
           WHEN 'total'   THEN sum(value)
           WHEN 'minimum' THEN min(value)
           WHEN 'maximum' THEN max(value)
           ELSE arg_max(value, ts) END AS value,
         CAST(count(value) AS BIGINT) AS known
  FROM h GROUP BY name, aggregator, (ts // 86400) * 86400
)
SELECT name, ts,
       CASE WHEN known / 24.0 >= 0.5 THEN ROUND(value, 6) END AS value,
       known
FROM d
"""


@_register("bg_xff_1d", _XFF_ORACLE)
def bg_xff_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xFilesFactor (SURVEY §2.3 A5): a 1d bucket built from 1h partials is
    nulled unless >= xff of its 24 sub-buckets are known."""
    _utc(spark)
    hourly = _stage1(spark, sf_dir)
    agg = F.first("aggregator", ignorenulls=True)
    day = hourly.groupBy("name", bucket_col(F.col("ts"), 86400).alias("ts")).agg(
        final_value_expr(agg, F.col("value"), F.col("count"), F.col("ts")).alias("v"),
        F.count("value").alias("known"),
    )
    return day.select(
        "name",
        "ts",
        F.when(
            xff_filter_expr(F.col("known"), F.lit(24), F.lit(0.5)), F.round("v", 6)
        ).alias("value"),
        "known",
    )


# ---------------------------------------------------------------------------
# Maintenance & ops parity: clean / repair / du / stats / diff / carbonlink
# ---------------------------------------------------------------------------

_CLEAN_CUTOFF = NOW - 7 * 86400

_DIR_PREFIXES = """
    SELECT DISTINCT array_to_string(parts[1:i], '.') AS directory
    FROM (SELECT string_split(name, '.') AS parts FROM {src}),
         unnest(generate_series(1, len(parts) - 1)) AS t(i)
"""

_CLEAN_ORACLE = f"""
WITH m AS (
  SELECT {ORACLE_NAME} AS name, max({ORACLE_TS}) AS updated_on
  FROM events GROUP BY 1
),
live AS (SELECT name FROM m WHERE updated_on >= {_CLEAN_CUTOFF}),
alldirs AS ({_DIR_PREFIXES.format(src='m')}),
livedirs AS ({_DIR_PREFIXES.format(src='live')})
SELECT 'expired_metric' AS kind, name FROM m WHERE updated_on < {_CLEAN_CUTOFF}
UNION ALL
SELECT 'empty_directory' AS kind, directory AS name FROM alldirs
WHERE directory NOT IN (SELECT directory FROM livedirs)
"""


@_register("bg_clean", _CLEAN_ORACLE)
def bg_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean pass (SURVEY §2.4 J3): expired metrics by updated_on cutoff +
    empty directories via a prefixes anti-join."""
    _utc(spark)
    from biggraphite_spark.operators.maintenance import empty_directories, expired_metrics

    catalog = load_catalog(spark, sf_dir)
    expired = expired_metrics(catalog, _CLEAN_CUTOFF)
    live = catalog.filter(F.col("updated_on") >= F.lit(_CLEAN_CUTOFF))
    dirs = empty_directories(catalog, live)
    return expired.select(F.lit("expired_metric").alias("kind"), "name").unionAll(
        dirs.select(F.lit("empty_directory").alias("kind"), F.col("directory").alias("name"))
    )


_REPAIR_ORACLE = f"""
WITH m AS (SELECT DISTINCT {ORACLE_NAME} AS name FROM events),
mm AS (SELECT name, CAST(regexp_extract(name, '\\.u(\\d+)$', 1) AS BIGINT) AS uid,
              string_split(name, '.') AS parts FROM m),
dirs AS (
  SELECT DISTINCT array_to_string(parts[1:i], '.') AS directory
  FROM mm, unnest(generate_series(1, len(parts) - 1)) AS t(i)
  WHERE array_to_string(parts[1:i], '.') NOT LIKE 'bg.error%'
),
metadata AS (SELECT name FROM mm WHERE uid % 7 != 0)
SELECT 'missing_parent' AS kind, name FROM mm
WHERE array_to_string(parts[1:len(parts)-1], '.') NOT IN (SELECT directory FROM dirs)
UNION ALL
SELECT 'orphan_metadata' AS kind, name FROM mm
WHERE name NOT IN (SELECT name FROM metadata)
"""


@_register("bg_repair", _REPAIR_ORACLE)
def bg_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repair pass (SURVEY §2.4 J3): metrics whose parent directory row is
    missing (simulated: bg.error dirs dropped) + metrics without metadata
    (simulated: every 7th user) — each one anti-join."""
    _utc(spark)
    from biggraphite_spark.operators.maintenance import (
        directories_from_names,
        missing_parent_metrics,
        orphan_metrics,
    )

    catalog = load_catalog(spark, sf_dir)
    uid = F.regexp_extract("name", r"\.u(\d+)$", 1).cast("long")
    dirs = directories_from_names(catalog).filter(~F.col("directory").startswith("bg.error"))
    missing = missing_parent_metrics(catalog, dirs)
    metadata = catalog.filter(uid % 7 != 0)
    orphans = orphan_metrics(catalog, metadata)
    return missing.select(F.lit("missing_parent").alias("kind"), "name").unionAll(
        orphans.select(F.lit("orphan_metadata").alias("kind"), "name")
    )


_RETENTION_POINTS = sum(st.points for st in RETENTION.stages)

_DU_ORACLE = f"""
WITH m AS (SELECT DISTINCT {ORACLE_NAME} AS name, event_type FROM events)
SELECT concat('bg.', event_type) AS namespace,
       count(*) AS n_metrics,
       CAST(count(*) * {_RETENTION_POINTS} AS BIGINT) AS points,
       CAST(count(*) * {_RETENTION_POINTS} * 24 AS BIGINT) AS bytes
FROM m GROUP BY 1
"""


@_register("bg_du", _DU_ORACLE)
def bg_du(spark: SparkSession, sf_dir: str) -> DataFrame:
    """du rollup (SURVEY §2.3 A6): retention points x 24 bytes per metric,
    grouped by parent namespace; the points factor is parsed from the
    retention string column in-plan."""
    _utc(spark)
    from biggraphite_spark.operators.maintenance import du

    return du(load_catalog(spark, sf_dir)).select(
        "namespace", "n_metrics", "points", "bytes"
    )


_STATS_CLASSIFIER = (
    (r"^bg\.(click|view)\.", "ui"),
    (r"^bg\.(purchase|signup)\.", "commerce"),
    (r"^bg\.error\.", "errors"),
)

_STATS_ORACLE = f"""
WITH m AS (
  SELECT {ORACLE_NAME} AS name, CAST(count(*) AS BIGINT) AS point_count
  FROM events GROUP BY 1
)
SELECT CASE
         WHEN regexp_matches(name, '^bg\\.(click|view)\\.') THEN 'ui'
         WHEN regexp_matches(name, '^bg\\.(purchase|signup)\\.') THEN 'commerce'
         WHEN regexp_matches(name, '^bg\\.error\\.') THEN 'errors'
         ELSE 'other' END AS namespace,
       count(*) AS n_metrics,
       CAST(sum(point_count) AS BIGINT) AS points
FROM m GROUP BY 1
"""


@_register("bg_stats", _STATS_ORACLE)
def bg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats rollup (SURVEY §2.3 A6): chained-regex namespace classifier +
    metric/point counts (cli/command_stats.py:54-94)."""
    _utc(spark)
    from biggraphite_spark.operators.maintenance import stats

    return stats(load_catalog(spark, sf_dir), list(_STATS_CLASSIFIER)).select(
        "namespace", "n_metrics", F.col("points").cast("long").alias("points")
    )


_DIFF_ORACLE = f"""
WITH pts AS (
  SELECT {ORACLE_NAME} AS name, {ORACLE_TS} AS sec, value, event_id FROM events
),
a AS (SELECT name, (sec // 3600) * 3600 AS ts, avg(value) AS va
      FROM pts WHERE event_id % 2 = 0 GROUP BY 1, 2),
b AS (SELECT name, (sec // 3600) * 3600 AS ts, avg(value) AS vb
      FROM pts WHERE event_id % 2 = 1 GROUP BY 1, 2),
j AS (
  SELECT COALESCE(a.name, b.name) AS name,
         CASE WHEN a.va IS NULL OR b.vb IS NULL THEN 1.0
              ELSE COALESCE(abs(a.va - b.vb) / nullif(abs(a.va) + abs(b.vb), 0.0), 0.0)
         END AS gap
  FROM a FULL JOIN b ON a.name = b.name AND a.ts = b.ts
)
SELECT name, ROUND(quantile_cont(gap, 0.5), 6) AS p50,
       ROUND(quantile_cont(gap, 0.9), 6) AS p90,
       count(*) AS n_points
FROM j GROUP BY name
"""


@_register("bg_cluster_diff", _DIFF_ORACLE)
def bg_cluster_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clusters_diff (SURVEY §2.4 J4): two simulated clusters (even/odd
    event ids) aligned per (name, hour), relative gap per point, per-series
    dissymmetry percentiles."""
    _utc(spark)
    from biggraphite_spark.operators.diff import series_dissymmetry
    from biggraphite_spark.sources.events import event_ts_seconds, load_events, metric_name_col

    ev = load_events(spark, sf_dir)
    base = ev.select(
        metric_name_col().alias("name"),
        ((event_ts_seconds(ev) / 3600).cast("long") * 3600).alias("ts"),
        "value",
        "event_id",
    )
    a = base.filter(F.col("event_id") % 2 == 0).groupBy("name", "ts").agg(F.avg("value").alias("value"))
    b = base.filter(F.col("event_id") % 2 == 1).groupBy("name", "ts").agg(F.avg("value").alias("value"))
    d = series_dissymmetry(a, b)
    return d.select(
        "name", F.round("p50", 6).alias("p50"), F.round("p90", 6).alias("p90"), "n_points"
    )


_CL_SPLIT = NOW - 2 * 86400

_CARBONLINK_ORACLE = f"""
WITH pts AS ({_PTS}),
db AS ({_oracle_final(3600, where=f"sec < {_CL_SPLIT}")}),
cache AS (SELECT name, (sec // 3600) * 3600 AS ts, arg_max(value, rts) AS value
          FROM pts WHERE sec >= {_CL_SPLIT} GROUP BY 1, 2)
SELECT COALESCE(db.name, cache.name) AS name,
       COALESCE(db.ts, cache.ts) AS ts,
       ROUND(COALESCE(cache.value, db.value), 6) AS value,
       CASE WHEN cache.value IS NOT NULL THEN 'cache' ELSE 'db' END AS source
FROM db FULL JOIN cache ON db.name = cache.name AND db.ts = cache.ts
"""


@_register("bg_carbonlink", _CARBONLINK_ORACLE)
def bg_carbonlink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carbonlink merge (SURVEY §2.4 J1): DB series (downsampled history
    before the split) full-outer-merged with hot cache points (newest raw
    value per bucket after the split); cache wins."""
    _utc(spark)
    from biggraphite_spark.operators.diff import merge_with_cache

    catalog = load_catalog(spark, sf_dir)
    points0 = load_stage0(spark, sf_dir)
    hist = downsample_stage0(
        with_aggregator(points0.filter(F.col("ts") < _CL_SPLIT), catalog), STAGE1
    )
    db = fetch_points(hist, catalog, 0, _CL_SPLIT, target=STAGE1)
    cache = (
        points0.filter(F.col("ts") >= _CL_SPLIT)
        .groupBy("name", bucket_col(F.col("ts"), 3600).alias("ts"))
        .agg(F.max_by("value", F.col("ts")).alias("value"))
    )
    merged = merge_with_cache(db, cache)
    return merged.select("name", "ts", F.round("value", 6).alias("value"), "source")


# ---------------------------------------------------------------------------
# TPC-H-style analytics (bench headliners; exercises joins/aggs at scale)
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(sum(l_quantity), 2) AS sum_qty,
       ROUND(sum(l_extendedprice), 2) AS sum_base_price,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(avg(l_quantity), 6) AS avg_qty,
       ROUND(avg(l_extendedprice), 6) AS avg_price,
       ROUND(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag, l_linestatus
"""


@_register("tpch_q1", _Q1_ORACLE)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary scan+agg (beyond-reference analytics surface): single
    scan, map-side partial agg, 4-group output."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q3_ORACLE = """
SELECT l_orderkey,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@_register("tpch_q3", _Q3_ORACLE)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-k: broadcast the filtered customer dim, shuffle
    only the order-level aggregation; deterministic (revenue, key) ordering."""
    _utc(spark)
    c = _load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    l = _load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n_name, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@_register("tpch_q5", _Q5_ORACLE)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume join pipeline: every dimension broadcast, the
    fact table streams through one shuffle for the final group-by."""
    _utc(spark)
    c, o, l, s, n, r = (_load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"))
    return (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            ),
            l.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_COPY_ORACLE = f"""
WITH pts AS ({_PTS}), d AS ({_oracle_partials(7200)})
SELECT name, ts, ROUND(value, 6) AS value, pcount, aggregator FROM d
"""


@_register("bg_copy_2h", _COPY_ORACLE)
def bg_copy_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bgutil copy with retention override (SURVEY §3.3, command_copy.py):
    rebuild a 2h destination stage purely from the 1h source partials —
    merge-mode re-aggregation, no raw points touched."""
    _utc(spark)
    from biggraphite_spark.model import Retention
    from biggraphite_spark.operators.downsample import copy_to_retention

    src = RETENTION
    dst = Retention.from_string("2678400*1s:500*7200s")
    tables = {"1000*3600s": _stage1(spark, sf_dir)}
    out = copy_to_retention(tables, src, dst)["500*7200s"]
    return out.select(
        "name", "ts", F.round("value", 6).alias("value"),
        F.col("count").alias("pcount"), "aggregator",
    )


_DIR_PATTERNS = ("*", "bg.*")


def _find_dirs_oracle() -> str:
    selects = []
    for pat in _DIR_PATTERNS:
        rx = ("^(?:" + compile_glob(pat).regex + ")$").replace("'", "''")
        n = pat.count(".") + 1
        selects.append(
            f"""SELECT '{pat}' AS pattern, directory FROM (
                  SELECT DISTINCT array_to_string(parts[1:{n}], '.') AS directory
                  FROM (SELECT string_split(name, '.') AS parts FROM m)
                  WHERE len(parts) > {n}
                ) WHERE regexp_matches(directory, '{rx}')"""
        )
    return (
        f"WITH m AS (SELECT DISTINCT {ORACLE_NAME} AS name FROM events) "
        + " UNION ALL ".join(selects)
    )


@_register("bg_find_dirs", _find_dirs_oracle())
def bg_find_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory (branch-node) globbing (SURVEY §2.7 U3, graphite find over
    non-leaf nodes): distinct name prefixes at the pattern's depth."""
    _utc(spark)
    from biggraphite_spark.operators.find import find_directories

    catalog = load_catalog(spark, sf_dir).cache()
    parts = [
        find_directories(catalog, pat).select(F.lit(pat).alias("pattern"), "directory")
        for pat in _DIR_PATTERNS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_DIR_GLOBSTAR_PATTERNS = ("**", "bg.**", "bg.**.u4")


def _find_dirs_globstar_oracle() -> str:
    selects = []
    for pat in _DIR_GLOBSTAR_PATTERNS:
        rx = ("^(?:" + compile_glob(pat).regex + ")$").replace("'", "''")
        selects.append(
            f"""SELECT '{pat}' AS pattern, directory FROM (
                  SELECT DISTINCT array_to_string(parts[1:n], '.') AS directory
                  FROM (SELECT string_split(name, '.') AS parts FROM m),
                       (SELECT unnest(generate_series(1, 8)) AS n)
                  WHERE n < len(parts)
                ) WHERE regexp_matches(directory, '{rx}')"""
        )
    return (
        f"WITH m AS (SELECT DISTINCT {ORACLE_NAME} AS name FROM events) "
        + " UNION ALL ".join(selects)
    )


@_register("bg_find_dirs_globstar", _find_dirs_globstar_oracle())
def bg_find_dirs_globstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory globbing with ``**`` (SURVEY §2.7 U3; reference
    glob_utils.py:297-335 accepts any glob for directories, exercised at
    tests/drivers/base_test_metadata.py:163-181): proper prefixes at every
    depth ≥ the pattern's fixed-component floor, regex-filtered.  The
    battery covers all-dirs (**), anchored-prefix (bg.**) and a
    fixed-suffix globstar that matches no branch node (bg.**.u4 — u4 only
    exists as a leaf)."""
    _utc(spark)
    from biggraphite_spark.operators.find import find_directories

    catalog = load_catalog(spark, sf_dir).cache()
    parts = [
        find_directories(catalog, pat).select(F.lit(pat).alias("pattern"), "directory")
        for pat in _DIR_GLOBSTAR_PATTERNS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_TR_CUTOFF = NOW - 7 * 86400
_TR_RX = ("^(?:" + compile_glob("bg.*.u*").regex + ")$").replace("'", "''")
_FIND_TIMERANGE_ORACLE = f"""
WITH m AS (SELECT {ORACLE_NAME} AS name, max({ORACLE_TS}) AS updated_on
           FROM events GROUP BY 1)
SELECT name, updated_on FROM m
WHERE regexp_matches(name, '{_TR_RX}') AND updated_on >= {_TR_CUTOFF}
"""


@_register("bg_find_timerange", _FIND_TIMERANGE_ORACLE)
def bg_find_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ranged metadata find (SURVEY §2.2 P9: glob_* accept
    start_time/end_time): glob match restricted to metrics alive in the
    window via the catalog's lifecycle timestamps."""
    _utc(spark)
    catalog = load_catalog(spark, sf_dir)
    return (
        find_metrics(catalog, "bg.*.u*")
        .filter(F.col("updated_on") >= F.lit(_TR_CUTOFF))
        .select("name", "updated_on")
    )


_SNAPSHOT_ORACLE = f"""
WITH snap AS (
  SELECT {ORACLE_NAME} AS name,
         ({ORACLE_TS} - {DATA_START}) // 604800 AS week,
         max({ORACLE_TS}) AS updated_on,
         CAST(count(*) AS BIGINT) AS points_in_week
  FROM events GROUP BY 1, 2
)
SELECT name, week, updated_on, points_in_week
FROM snap
QUALIFY row_number() OVER (PARTITION BY name ORDER BY updated_on DESC, week DESC) = 1
"""


@_register("bg_latest_metadata", _SNAPSHOT_ORACLE)
def bg_latest_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup across dated metadata snapshots keeping the newest (SURVEY §2.7
    U2: ES daily indices deduped by updated_on via row_number = 1)."""
    _utc(spark)
    from pyspark.sql import Window
    from biggraphite_spark.sources.events import event_ts_seconds, load_events, metric_name_col

    ev = load_events(spark, sf_dir)
    sec = event_ts_seconds(ev)
    snap = (
        ev.groupBy(
            metric_name_col().alias("name"),
            ((sec - F.lit(DATA_START)) / 604800).cast("long").alias("week"),
        )
        .agg(
            F.max(sec).alias("updated_on"),
            F.count("*").alias("points_in_week"),
        )
    )
    w = Window.partitionBy("name").orderBy(F.desc("updated_on"), F.desc("week"))
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("name", "week", "updated_on", "points_in_week")
    )


_SESSION_ORACLE = f"""
WITH e AS (SELECT user_id, {ORACLE_TS} AS sec, event_id FROM events),
l AS (SELECT user_id, sec,
             lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev
      FROM e),
s AS (SELECT user_id,
             CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS is_new
      FROM l)
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
"""


@_register("events_sessionize", _SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (beyond-reference stream analytics): lag + gap>30min
    flags summed per user — the standard Window idiom."""
    _utc(spark)
    from pyspark.sql import Window
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select("user_id", event_ts_seconds(ev).alias("sec"), "event_id")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = e.withColumn("prev", F.lag("sec").over(w)).withColumn(
        "is_new",
        F.when(F.col("prev").isNull() | (F.col("sec") - F.col("prev") > 1800), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("is_new").alias("n_sessions"), F.count("*").alias("n_events")
    )


_SESSION_WINDOW_ORACLE = f"""
WITH e AS (SELECT user_id, {ORACLE_TS} AS sec,
                  CASE WHEN isnan(value) THEN NULL ELSE value END AS value
           FROM events),
l AS (SELECT user_id, sec, value,
             lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev
      FROM e),
s AS (SELECT user_id, sec, value,
             sum(CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY sec
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM l)
SELECT user_id,
       min(sec) AS session_start,
       max(sec) + 1800 AS session_end,
       count(*) AS n_events,
       ROUND(sum(value), 4) AS total
FROM s GROUP BY user_id, sid
"""


@_register("events_session_window", _SESSION_WINDOW_ORACLE)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: ``F.session_window(ts, gap)`` merges events
    into variable-length sessions inside the aggregation operator itself —
    the engine mechanism Structured Streaming uses for stateful session
    aggregation, here cross-checked in batch against the manual lag/cumsum
    construction (the oracle).  Window end = last event + gap, the
    session_window contract."""
    _utc(spark)
    from biggraphite_spark.sources.events import event_ts_timestamp, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id",
        event_ts_timestamp(ev).alias("ts_t"),
        F.when(F.isnan("value"), None).otherwise(F.col("value")).alias("value"),
    )
    return (
        e.groupBy("user_id", F.session_window("ts_t", "1800 seconds").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
            "total",
        )
    )


_TOPK_ORACLE = f"""
WITH t AS (
  SELECT event_type, user_id, ROUND(sum(value), 4) AS total
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, total,
       CAST(row_number() OVER w AS BIGINT) AS rn
FROM t
WINDOW w AS (PARTITION BY event_type ORDER BY total DESC, user_id)
QUALIFY row_number() OVER w <= 3
"""


@_register("events_topk_users", _TOPK_ORACLE)
def events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window rank (rounded-total ordering + id
    tie-break for determinism); Catalyst turns it into WindowGroupLimit."""
    _utc(spark)
    from pyspark.sql import Window
    from biggraphite_spark.sources.events import load_events

    t = (
        load_events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.round(F.sum("value"), 4).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("user_id"))
    return (
        t.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = f"""
SELECT ({ORACLE_TS} // 86400) * 86400 AS day,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
FROM events GROUP BY 1
"""


@_register("events_pivot", _PIVOT_ORACLE)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot day x event_type counts (explicit value list, so the plan is a
    single pass with conditional aggregates — no second job to discover
    pivot values)."""
    _utc(spark)
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    sec = event_ts_seconds(ev)
    out = (
        ev.select(((sec / 86400).cast("long") * 86400).alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    # pivot leaves null for absent combos; counts should read 0
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


_Q6_ORACLE = """
SELECT ROUND(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@_register("tpch_q6", _Q6_ORACLE)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue filter+agg: fully pushed-down scan, one partial
    aggregate, single-row output."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@_register("tpch_q4", _Q4_ORACLE)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority check, TPC-H Q4's shape adapted to the synthetic
    schema (no l_commitdate/l_receiptdate: "late" = any line shipped >60
    days after the order date).  The EXISTS becomes a left-semi join with
    a non-equi conjunct — the fact side never duplicates orders."""
    _utc(spark)
    o = _load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    l = _load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(l, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


@_register("tpch_q12", _Q12_ORACLE)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority split, TPC-H Q12's conditional-aggregation
    shape over the synthetic schema (l_returnflag stands in for
    l_shipmode): one join, per-group CASE counts inside the partial agg."""
    _utc(spark)
    o = _load_table(spark, sf_dir, "orders")
    l = _load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_FUNNEL_ORACLE = f"""
WITH e AS (SELECT user_id, event_type, {ORACLE_TS} AS sec FROM events),
v AS (SELECT user_id, min(sec) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.sec) AS t_click FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.sec > v.t_view GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.sec) AS t_purchase FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.sec > c.t_click GROUP BY e.user_id)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS steps
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


@_register("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): each step is the
    earliest qualifying event STRICTLY AFTER the previous step's time —
    per-step conditional min-aggregations chained by equi-joins on
    user_id, so every stage co-partitions on the same key and AQE reuses
    the exchange; no window over the full event stream is needed."""
    _utc(spark)
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select("user_id", "event_type", event_ts_seconds(ev).alias("sec"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("sec") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("sec") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).cast("long").alias("steps"),
        )
    )


_JSON_ORACLE = """
SELECT CAST(CAST(props->>'$.k' AS BIGINT) % 10 AS BIGINT) AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(avg(value), 4) AS avg_value,
       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY 1
"""


@_register("events_json_props", _JSON_ORACLE)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON path extraction inside codegen
    (get_json_object — no UDF, no parse-to-struct materialization),
    bucketed aggregation over the extracted key."""
    _utc(spark)
    from biggraphite_spark.sources.events import load_events

    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).cast("long").alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max("k").alias("max_k"),
        )
    )


_WEEK_S = 604800

_COHORT_ORACLE = f"""
WITH e AS (SELECT user_id, ({ORACLE_TS}) // {_WEEK_S} AS week FROM events),
first AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id)
SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN first f USING (user_id)
GROUP BY 1, 2
"""


@_register("events_cohort", _COHORT_ORACLE)
def events_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = first-activity week,
    counted distinct actives per (cohort, offset).  The first-week
    relation is user-sized and re-joined on the same user_id key the
    activity relation aggregates on — one co-partitioned join, two aggs."""
    _utc(spark)
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id", F.floor(event_ts_seconds(ev) / _WEEK_S).alias("week")
    )
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        e.join(first, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_ROLLUP_ORACLE = f"""
SELECT event_type,
       CAST(({ORACLE_TS}) // {_WEEK_S} AS BIGINT) AS week,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 4) AS total
FROM events
GROUP BY ROLLUP (event_type, (({ORACLE_TS}) // {_WEEK_S}))
"""


@_register("events_rollup", _ROLLUP_ORACLE)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregation in ONE pass: ROLLUP(event_type, week)
    yields per-(type,week), per-type, and grand-total rows from a single
    Expand+HashAggregate — the grouping-sets shape that replaces N
    separate scans with one."""
    _utc(spark)
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "event_type",
        F.floor(event_ts_seconds(ev) / _WEEK_S).alias("week"),
        "value",
    )
    return e.rollup("event_type", "week").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")
    )


_QUANTILES_ORACLE = """
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events
WHERE NOT isnan(value)
GROUP BY event_type
"""


@_register("events_quantiles", _QUANTILES_ORACLE)
def events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (ops-latency shape).
    Spark's percentile() and DuckDB's quantile_cont share the linear-
    interpolation definition, so values hash-match after rounding.  At
    scale the exact sort-based aggregate swaps for approx_percentile with
    the same query shape."""
    _utc(spark)
    from biggraphite_spark.sources.events import load_events

    ev = load_events(spark, sf_dir).filter(~F.isnan("value"))
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
    )


_Q22_ORACLE = """
WITH rich AS (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
)
SELECT CAST(c_custkey % 10 AS BIGINT) AS cust_group,
       CAST(count(*) AS BIGINT) AS numcust,
       ROUND(sum(c_acctbal), 2) AS totacctbal
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


@_register("tpch_q22", _Q22_ORACLE)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22's shape, "lapsed" variant):
    scalar-subquery threshold (single-row broadcast) + NOT EXISTS as a
    left-anti join against the customers ordering since 2000 — rich
    customers with no recent order, grouped for the sales report."""
    _utc(spark)
    c = _load_table(spark, sf_dir, "customer")
    o = _load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .select("c_custkey", "c_acctbal")
    )
    return (
        rich.join(
            o.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
                F.col("o_custkey").alias("c_custkey")
            ),
            "c_custkey",
            "left_anti",
        )
        .groupBy((F.col("c_custkey") % 10).cast("long").alias("cust_group"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_Q7_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation sn ON sn.n_nationkey = s_nationkey
              JOIN nation cn ON cn.n_nationkey = c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
"""


@_register("tpch_q7", _Q7_ORACLE)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (TPC-H Q7): the two-role dimension join — nation
    joined TWICE under different aliases on supplier and customer sides,
    with the symmetric nation-pair disjunction evaluated after both.  All
    four dimensions broadcast; lineitem is the only fact scanned."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    s = _load_table(spark, sf_dir, "supplier")
    o = _load_table(spark, sf_dir, "orders")
    c = _load_table(spark, sf_dir, "customer")
    n = _load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        # only nation is constant-size; supplier/orders/customer scale with
        # the data — AQE picks broadcast when a filtered side turns out small
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_Q10_ORACLE = """
SELECT c_custkey, c_name,
       CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@_register("tpch_q10", _Q10_ORACLE)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10): fact filtered on return flag,
    quarter-windowed orders, revenue per customer, global top-20 — the
    groupBy feeds a single TakeOrderedAndProject, no full sort."""
    _utc(spark)
    c = _load_table(spark, sf_dir, "customer")
    o = _load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    l = _load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = _load_table(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # decimal end-to-end: some per-group sums land EXACTLY on the
        # half-cent (e.g. 307843.5950), where double rounding is
        # engine-dependent (Spark rounds the shortest decimal rendering,
        # DuckDB the binary value).  Decimal terms (identical doubles cast
        # identically in both engines) sum exactly and ROUND(dec, 2) is
        # half-up in both; only then widen to double for output
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q14_ORACLE = """
SELECT ROUND(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


@_register("tpch_q14", _Q14_ORACLE)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14): one broadcast dim join, conditional
    numerator and unconditional denominator in the SAME aggregation pass."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    p = _load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


_Q18_QTY = 300

_Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(sum(l_quantity), 2) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > {_Q18_QTY})
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@_register("tpch_q18", _Q18_ORACLE)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18): the IN-subquery over a grouped
    HAVING becomes an aggregated key set semi-joined back into the fact —
    the key set is tiny after the HAVING, so it broadcasts."""
    _utc(spark)
    c = _load_table(spark, sf_dir, "customer")
    o = _load_table(spark, sf_dir, "orders")
    l = _load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > _Q18_QTY)
        .select("l_orderkey")
    )
    return (
        l.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_Q19_ORACLE = """
SELECT ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 30)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 50)
"""


@_register("tpch_q19", _Q19_ORACLE)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19): three disjunctive brand/size/quantity
    predicate groups spanning BOTH join sides — the classic test that the
    planner keeps the disjunction as a post-join filter while still pushing
    each side's common conjuncts into the scans."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    p = _load_table(spark, sf_dir, "part")
    j = l.join(p, F.col("p_partkey") == F.col("l_partkey"))
    g = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        g("Brand#1", 15, 1, 30) | g("Brand#2", 25, 10, 40) | g("Brand#3", 35, 20, 50)
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


# -- TPC-H completion: the remaining query shapes, adapted to the reduced
#    schema (no partsupp table, no commit/receipt dates, no comment columns;
#    each docstring states the stand-in predicate).  The plan SHAPES are the
#    point: min-per-group join (q2), two-role dimension (q8), LIKE-filtered
#    profit rollup (q9), scalar-threshold group filter (q11), left-join
#    count distribution (q13), argmax-by-scalar (q15), anti-join distinct
#    count (q16), correlated-average filter (q17), dominance semi-join
#    (q20), exists/not-exists wait analysis (q21). --------------------------

_Q2_ORACLE = """
WITH cost AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
eligible AS (
  SELECT c.partkey, c.suppkey, c.unit_cost
  FROM cost c
  JOIN supplier ON s_suppkey = c.suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (SELECT partkey, min(unit_cost) AS min_cost FROM eligible GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, ROUND(e.unit_cost, 6) AS unit_cost
FROM eligible e
JOIN best ON e.partkey = best.partkey AND e.unit_cost = best.min_cost
JOIN part ON p_partkey = e.partkey
JOIN supplier ON s_suppkey = e.suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'STANDARD' AND p_size <= 10
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 20
"""


@_register("tpch_q2", _Q2_ORACLE)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost-supplier, adapted: unit cost = min observed
    lineitem price/qty per (part, supplier) stands in for ps_supplycost.
    Shape: aggregate -> min-per-group -> equality join back (the classic
    argmin join), dimensions broadcast."""
    _utc(spark)
    l, s, n, r, p = (_load_table(spark, sf_dir, t) for t in ("lineitem", "supplier", "nation", "region", "part"))
    cost = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    eligible = (
        cost.join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("partkey", "suppkey", "unit_cost", "s_acctbal", "s_name", "n_name")
    )
    best = eligible.groupBy("partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        eligible.join(
            best,
            (eligible.partkey == best.partkey)
            & (eligible.unit_cost == best.min_cost),
        )
        .drop(best.partkey)
        .join(
            F.broadcast(
                p.filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
            ),
            F.col("partkey") == F.col("p_partkey"),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


_Q8_ORACLE = """
SELECT o_year,
       ROUND(sum(CASE WHEN nation = 'NATION_0' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) all_nations
GROUP BY o_year
"""


@_register("tpch_q8", _Q8_ORACLE)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: the nation dimension plays TWO roles
    (customer's region gate, supplier's nation label) — two broadcast
    copies, zero extra shuffles; share = conditional-sum / sum in one
    aggregation."""
    _utc(spark)
    l, p, s, o, c, n, r = (
        _load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier", "orders", "customer", "nation", "region")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    j = (
        l.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
               F.col("p_partkey") == F.col("l_partkey"))
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("c_rkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_0", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


_Q9_ORACLE = """
SELECT nation, o_year,
       CAST(ROUND(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  -- exact DECIMAL arithmetic: these group sums are large enough that raw
  -- double accumulation order flips the cent digit between engines; price
  -- and discount are true 2-decimal values, so decimal cast/multiply/sum
  -- is exact and both engines round the identical quantity
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
"""


@_register("tpch_q9", _Q9_ORACLE)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit, adapted: amount drops the ps_supplycost term
    (no partsupp table).  The LIKE filter prunes part BEFORE the broadcast,
    so the fact scan only keeps matching partkeys."""
    _utc(spark)
    l, p, s, o, n = (_load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier", "orders", "nation"))
    return (
        l.join(
            F.broadcast(p.filter(F.col("p_name").like("%gear%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.expr(
                        "CAST(l_extendedprice AS DECIMAL(18,2)) * "
                        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


_Q11_ORACLE = """
WITH partval AS (
  SELECT l_partkey AS partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
)
SELECT partkey, CAST(ROUND(value, 2) AS DOUBLE) AS value
FROM partval
WHERE value > (SELECT 2.0 * avg(value) FROM partval)
"""


@_register("tpch_q11", _Q11_ORACLE)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock, adapted: per-part revenue from one nation's
    suppliers stands in for availqty*supplycost.  The global threshold is a
    single-row broadcast (scalar-subquery shape, like q22) — no second scan
    of the fact table."""
    _utc(spark)
    l, s, n = (_load_table(spark, sf_dir, t) for t in ("lineitem", "supplier", "nation"))
    partval = (
        l.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        # decimal sum, like q10: at sf0.1 one per-part revenue lands within
        # an ulp of the half-cent and double rounding flips by engine;
        # decimal terms sum exactly, so both engines round the same number
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("value")
        )
    )
    threshold = partval.agg((F.avg("value") * 2.0).alias("threshold"))
    return (
        partval.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select(
            "partkey", F.round("value", 2).cast("double").alias("value")
        )
    )


_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@_register("tpch_q13", _Q13_ORACLE)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: LEFT join keeps zero-order
    customers (count(o_orderkey) skips their nulls), then a second
    aggregation histograms the counts.  The priority filter stands in for
    the reference's o_comment NOT LIKE (no comment column)."""
    _utc(spark)
    c = _load_table(spark, sf_dir, "customer")
    o = _load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


_Q15_ORACLE = """
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
"""


@_register("tpch_q15", _Q15_ORACLE)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: quarterly revenue per supplier, keep the argmax
    row(s).  max-threshold is a single-row broadcast against the (tiny)
    aggregated frame — the revenue view is computed once."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    s = _load_table(spark, sf_dir, "supplier")
    revenue0 = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = revenue0.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue0.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@_register("tpch_q16", _Q16_ORACLE)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship, adapted: lineitem stands in for
    partsupp as the part<->supplier relation and the negative-balance
    exclusion stands in for the complaints-comment filter.  Shape: broadcast
    anti-join (the NOT IN) + distinct-count aggregation."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    p = _load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = (
        _load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_Q17_ORACLE = """
SELECT ROUND(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


@_register("tpch_q17", _Q17_ORACLE)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity revenue: the correlated per-part average becomes
    one aggregation broadcast back onto the fact scan — the decorrelated
    plan Catalyst would also pick, written explicitly so the avg frame is
    computed once and stays broadcast-sized (one row per part)."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    p = _load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    # the correlated average only matters for the brand's parts, so the
    # semi-join lands BEFORE the aggregation: the agg hash table and the
    # broadcast frame shrink from |parts| to |brand parts| (~1/25), and at
    # scale the avg shuffle carries only the qualifying fact rows
    avgq = (
        l.join(F.broadcast(p.select("p_partkey")), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("ap_key"))
        .agg((F.avg("l_quantity") * 0.2).alias("qty_cap"))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(avgq), F.col("ap_key") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


_Q20_ORACLE = """
WITH shipped AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
tot AS (SELECT partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1),
dominant AS (
  SELECT DISTINCT s.suppkey
  FROM shipped s
  JOIN tot ON s.partkey = tot.partkey
  JOIN part ON p_partkey = s.partkey
  WHERE p_name LIKE '%bolt%' AND s.qty > 0.3 * tot.total_qty
)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT suppkey FROM dominant)
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
"""


@_register("tpch_q20", _Q20_ORACLE)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 part promotion, adapted: a supplier qualifies when it shipped
    >30% of a bolt-part's yearly quantity (stands in for availqty >
    half-year demand).  Shape: two-level aggregation + dominance filter +
    LEFT SEMI join into the supplier dimension."""
    _utc(spark)
    l, p, s, n = (_load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier", "nation"))
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = shipped.groupBy("partkey").agg(F.sum("qty").alias("total_qty"))
    dominant = (
        shipped.join(tot, "partkey")
        .join(
            F.broadcast(p.filter(F.col("p_name").like("%bolt%"))),
            F.col("p_partkey") == F.col("partkey"),
        )
        .filter(F.col("qty") > 0.3 * F.col("total_qty"))
        .select("suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(dominant), F.col("s_suppkey") == F.col("suppkey"), "left_semi")
        .join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
    )


_Q21_ORACLE = """
WITH fl AS (
  SELECT l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM fl l1
  WHERE l1.l_returnflag = 'R'
    AND EXISTS (
      SELECT 1 FROM fl l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM fl l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R'
    )
) waiting
JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@_register("tpch_q21", _Q21_ORACLE)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers-kept-waiting, adapted: 'R' return lines on finished
    multi-supplier orders stand in for late receipts.  The oracle keeps the
    spec's EXISTS / NOT EXISTS form; the Spark plan decorrelates both into
    ONE per-order aggregate (supplier count, R-supplier count) joined back
    — same rows, one shuffle instead of two self-joins."""
    _utc(spark)
    l = _load_table(spark, sf_dir, "lineitem")
    o = _load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    s = _load_table(spark, sf_dir, "supplier")
    fl = l.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = fl.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supps"),
    )
    waiting = (
        fl.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter((F.col("n_supps") >= 2) & (F.col("n_r_supps") == 1)),
            "l_orderkey",
            "left_semi",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis / dedup / similarity search
# ---------------------------------------------------------------------------

def _sql_word_list(words) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def _text_stats_oracle() -> str:
    """Generated from operators.text.STOPWORDS — the engine and oracle
    share one externalized word table by construction."""
    from biggraphite_spark.operators.text import STOPWORDS

    stops = _sql_word_list(STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_types,
             length(text) AS n_chars,
             len(list_filter(toks, t -> t IN ({stops}))) AS n_stop
      FROM t)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(n_types AS BIGINT) AS n_types,
       ROUND(n_types * 1.0 / n_tokens, 6) AS ttr,
       ROUND((n_chars - (n_tokens - 1)) * 1.0 / n_tokens, 6) AS avg_word_len,
       ROUND(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
       ROUND((n_types * 1.0 / n_tokens) * 0.5 + (1.0 - n_stop * 1.0 / n_tokens) * 0.3
             + least(n_tokens / 100.0, 1.0) * 0.2, 6) AS quality_score
FROM s
"""


_TEXT_STATS_ORACLE = _text_stats_oracle()


@_register("doc_text_stats", _TEXT_STATS_ORACLE)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents — all built-in column
    expressions, zero UDFs."""
    _utc(spark)
    from biggraphite_spark.operators.text import text_stats

    return text_stats(_load_parallel(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    """Generated from operators.text.LANG_MARKERS — priority order and
    marker words come from the one externalized table."""
    from biggraphite_spark.operators.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    score_defs = ",\n             ".join(
        f"CAST(len(list_filter(toks, t -> t IN ({_sql_word_list(LANG_MARKERS[lang])})))"
        f" AS BIGINT) AS score_{lang}"
        for lang in langs
    )
    whens = []
    for i, lang in enumerate(langs):
        later = [f"score_{other}" for other in langs[i + 1 :]]
        cond = f"score_{lang} > 0"
        if len(later) == 1:
            cond += f" AND score_{lang} >= {later[0]}"
        elif later:
            cond += f" AND score_{lang} >= greatest({', '.join(later)})"
        whens.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'und' END"
    score_cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, lang,
             {score_defs}
      FROM t)
SELECT doc_id, {score_cols},
       {case} AS predicted_lang,
       lang AS labeled_lang
FROM s
"""


_LANG_ID_ORACLE = _lang_id_oracle()


@_register("doc_lang_id", _LANG_ID_ORACLE)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-id heuristic with fixed-priority tie-break."""
    _utc(spark)
    from biggraphite_spark.operators.text import lang_id

    return lang_id(_load_parallel(spark, sf_dir, "documents"))


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents
"""


@_register("doc_fingerprint", _FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 of the sorted token set)."""
    _utc(spark)
    from biggraphite_spark.operators.text import fingerprint

    return fingerprint(_load_parallel(spark, sf_dir, "documents"))


_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""


@_register("doc_dedup_exact", _DEDUP_EXACT_ORACLE)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one content-hash groupBy (the cheap first pass of every
    dedup pipeline)."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import exact_dedup

    return exact_dedup(_load_parallel(spark, sf_dir, "documents"))


_SHINGLES_SQL = """
    SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
    FROM documents
"""

_NGRAM_ORACLE = f"""
WITH d AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, unnest(sh) AS sh FROM d),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(shared * 1.0 / (da.n + db.n - shared), 6) AS jaccard
FROM inter
JOIN (SELECT doc_id, len(sh) AS n FROM d) da ON da.doc_id = doc_a
JOIN (SELECT doc_id, len(sh) AS n FROM d) db ON db.doc_id = doc_b
WHERE shared * 1.0 / (da.n + db.n - shared) >= 0.5
"""


@_register(
    "doc_dedup_ngram",
    _NGRAM_ORACLE,
    scale_domain={
        "max_sf": 1,
        "reason": "exact all-pairs n-gram Jaccard baseline (pair surface "
        "sum(df^2)); production siblings doc_dedup_minhash_lsh "
        "(approximate) and doc_dedup_ngram_prefix (lossless) run at "
        "every scale",
    },
)
def doc_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs, shingle-join pruned (the exact
    baseline the LSH path approximates)."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_load_parallel(spark, sf_dir, "documents"), threshold=0.5)


@_register("doc_dedup_ngram_prefix", _NGRAM_ORACLE)
def doc_dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS scale path for exact n-gram Jaccard: distinct-set collapse
    + df-ordered prefix filtering + Jaccard size prune, exact verify on
    candidates only.  Shares the exact operator's oracle, so the
    value-hash match proves nothing is dropped — where doc_dedup_minhash_lsh
    is the *approximate* sibling (banding loses threshold-straddling
    pairs, doc_lsh_recall measures how many), this one loses none and
    still runs at every scale (the quadratic core is bounded by distinct
    shingle sets and prefix-df instead of sum(df^2))."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(
        _load_parallel(spark, sf_dir, "documents"), threshold=0.5
    )


_CONTAINMENT_ORACLE = f"""
WITH d AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, unnest(sh) AS sh FROM d),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(shared * 1.0 / da.n, 6) AS cont_a_in_b,
       ROUND(shared * 1.0 / db.n, 6) AS cont_b_in_a
FROM inter
JOIN (SELECT doc_id, len(sh) AS n FROM d) da ON da.doc_id = doc_a
JOIN (SELECT doc_id, len(sh) AS n FROM d) db ON db.doc_id = doc_b
WHERE greatest(shared * 1.0 / da.n, shared * 1.0 / db.n) >= 0.6
"""


_WINNOW_K, _WINNOW_W = 5, 4

_WINNOW_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(toks) - {_WINNOW_K - 1}, 0)),
               i -> substr(md5(array_to_string(toks[i:i+{_WINNOW_K - 1}], ' ')), 1, 8)
             ) AS grams
      FROM t),
w AS (SELECT doc_id,
             CASE WHEN len(grams) = 0 THEN []
                  ELSE list_transform(
                    generate_series(1, greatest(len(grams) - {_WINNOW_W - 1}, 1)),
                    i -> list_min(grams[i:i+{_WINNOW_W - 1}]))
             END AS wins
      FROM g),
f AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fps FROM w)
SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
       md5(array_to_string(fps, ',')) AS fp_digest
FROM f
"""


@_register("doc_winnowing", _WINNOW_ORACLE)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): k-gram hashes,
    sliding-window minima — any shared >= w+k-1-token run between two
    documents shares a fingerprint.  Lexicographic min over md5-hex
    prefixes keeps the selection engine-neutral; one HOF projection,
    zero shuffle."""
    _utc(spark)
    from biggraphite_spark.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(
        _load_parallel(spark, sf_dir, "documents"), k=_WINNOW_K, w=_WINNOW_W
    )


@_register("doc_bpe_vocab", _twin("bpe_vocab_sql"))  # python-twin literal oracle
def doc_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (Sennrich 2016): 10 merge rounds
    over the distinct-word frequency table (vocabulary-sized state, the one
    corpus-sized job is the initial word count), then the merged symbol
    vocabulary with corpus frequencies.  The merge sequence is pinned
    bit-for-bit by an independent plain-Python trainer
    (tests/test_bpe.py); the driver records rows-only."""
    _utc(spark)
    from biggraphite_spark.operators.bpe import bpe_vocab, learn_bpe

    _merges, words = learn_bpe(
        _load_parallel(spark, sf_dir, "documents"), n_merges=10
    )
    return bpe_vocab(words)


@_register("doc_bpe_tokens", _twin("bpe_tokens_sql"))  # python-twin literal oracle
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply side: per-document token counts under the learned
    vocabulary — encode = one broadcast lookup join against the
    vocabulary-sized (word -> segmentation) table.  Pinned by the same
    independent Python trainer (tests/test_bpe.py)."""
    _utc(spark)
    from biggraphite_spark.operators.bpe import bpe_token_counts, learn_bpe

    docs = _load_parallel(spark, sf_dir, "documents")
    _merges, words = learn_bpe(docs, n_merges=10)
    return bpe_token_counts(docs, words)


@_register(
    "doc_containment",
    _CONTAINMENT_ORACLE,
    scale_domain={
        "max_sf": 1,
        "reason": "exact posting self-join without a sound size prune; "
        "production sibling doc_containment_prefix emits the identical "
        "relation at every scale",
    },
)
def doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (Broder): catches a short document
    pasted inside a long one, which symmetric Jaccard scores near zero —
    the quote/boilerplate-inclusion case.  Same posting-join shape as the
    Jaccard baseline."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import containment_pairs

    return containment_pairs(_load_parallel(spark, sf_dir, "documents"), threshold=0.6)


@_register("doc_containment_prefix", _CONTAINMENT_ORACLE)
def doc_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for containment: distinct-set collapse + df-ordered
    prefix filtering (AllPairs/PPJoin principle) + exact verify on
    candidates only.  LOSSLESS — the oracle is the exact operator's SQL,
    so the value-hash match proves the candidate generator drops nothing
    (Jaccard-LSH banding could not make this claim: it is biased against
    exactly the short-in-long pairs containment exists for).  Where the
    exact posting self-join died of >78 GB spill at sf10, this runs the
    same relation in ~24 s: the quadratic core is bounded by DISTINCT
    shingle sets and prefix-df instead of sum(df^2)."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import containment_prefix_pairs

    return containment_prefix_pairs(
        _load_parallel(spark, sf_dir, "documents"), threshold=0.6
    )


_CONTAINMENT_RECALL_ORACLE = f"""
WITH e AS ({_CONTAINMENT_ORACLE}),
c AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e)
SELECT n_exact, n_exact AS n_prefix, n_exact AS n_common,
       ROUND(n_exact * 1.0 / n_exact, 6) AS prefix_recall,
       ROUND(n_exact * 1.0 / n_exact, 6) AS prefix_precision
FROM c
"""


@_register(
    "doc_containment_recall",
    _CONTAINMENT_RECALL_ORACLE,
    scale_domain={
        "max_sf": 1,
        "reason": "contains the exact quadratic containment baseline by "
        "definition (recall denominator); losslessness is additionally "
        "pinned at every scale by doc_containment_prefix sharing the "
        "exact oracle",
    },
)
def doc_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision contract of the prefix-filtered containment path
    against the exact baseline (the doc_lsh_recall pattern).  Both engines
    run genuinely independent plans: Spark full-outer-joins the exact pairs
    against the prefix-path pairs and counts; DuckDB pins n_exact from the
    exact SQL and asserts recall == precision == 1.0 — the losslessness
    claim, checked as VALUES rather than prose."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    docs = _load_parallel(spark, sf_dir, "documents")
    exact = containment_pairs(docs, threshold=0.6).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    pref = containment_prefix_pairs(docs, threshold=0.6).select(
        "doc_a", "doc_b", F.lit(1).alias("in_prefix")
    )
    j = exact.join(pref, ["doc_a", "doc_b"], "full_outer")
    counts = j.agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_prefix").cast("long").alias("n_prefix"),
        F.sum(
            F.when(F.col("in_exact").isNotNull() & F.col("in_prefix").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_common"),
    )
    return counts.select(
        "n_exact",
        "n_prefix",
        "n_common",
        F.round(F.col("n_common") / F.col("n_exact"), 6).alias("prefix_recall"),
        F.round(F.col("n_common") / F.col("n_prefix"), 6).alias("prefix_precision"),
    )


def _minhash_oracle(k: int = 16, bands: int = 4) -> str:
    r = k // bands
    # 4 independent 32-bit hashes per md5 (hex chunks), mirroring
    # operators/dedup.minhash_signatures
    mins = ", ".join(
        f"min(substr(md5('{j // 4}:' || sh), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=" || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH d AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, unnest(sh) AS sh FROM d),
sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
v AS (SELECT doc_a, doc_b, len(list_intersect(da.sh, db.sh)) AS shared,
             len(da.sh) AS na, len(db.sh) AS nb
      FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
SELECT doc_a, doc_b, ROUND(shared * 1.0 / (na + nb - shared), 6) AS jaccard
FROM v WHERE shared * 1.0 / (na + nb - shared) >= 0.5
"""


@_register("doc_dedup_minhash_lsh", _minhash_oracle())
def doc_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands of 4) near-dup detection, verified with true
    Jaccard on the candidate pairs only — the 100 TB dedup path."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import lsh_near_dups

    return lsh_near_dups(_load_parallel(spark, sf_dir, "documents"), threshold=0.5)


def _simhash_oracle(bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(w * CASE WHEN instr('89abcdef', substr(h, {i + 1}, 1)) > 0 "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    hash_terms = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
cnt AS (SELECT doc_id, token, count(*) AS w, md5(token) AS h
        FROM tok GROUP BY doc_id, token),
sums AS (SELECT doc_id, {sums} FROM cnt GROUP BY doc_id)
SELECT doc_id, CAST({hash_terms} AS BIGINT) AS simhash FROM sums
"""


@_register("doc_simhash", _simhash_oracle())
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over the token multiset (md5 bit-sums, sign -> bit)."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import simhash

    return simhash(_load_parallel(spark, sf_dir, "documents"))


def _quality_rules_oracle() -> str:
    """Generated from operators.text.STOPWORDS and the default Gopher-style
    thresholds — one externalized rule table drives both engines."""
    from biggraphite_spark.operators.text import STOPWORDS

    stops = _sql_word_list(STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        len(toks) AS n_words,
        (length(text) - (len(toks) - 1)) * 1.0 / len(toks) AS mwl,
        list_max(list_transform(toks, t -> length(t))) AS mtl,
        len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) * 1.0 / len(toks) AS alpha,
        len(list_filter(toks, t -> t IN ({stops}))) AS stop_hits
      FROM t)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(mwl, 6) AS mean_word_len,
       CAST(mtl AS BIGINT) AS max_token_len,
       ROUND(alpha, 6) AS alpha_ratio,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       (n_words >= 20 AND n_words <= 100000) AS rule_word_count,
       (mwl >= 3.0 AND mwl <= 10.0) AS rule_mean_word_len,
       (mtl <= 20) AS rule_max_token_len,
       (alpha >= 0.8) AS rule_alpha_ratio,
       (stop_hits >= 2) AS rule_stopwords,
       (n_words >= 20 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        AND mtl <= 20 AND alpha >= 0.8 AND stop_hits >= 2) AS keep
FROM s
"""


@_register("doc_quality_rules", _quality_rules_oracle())
def doc_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate: per-rule flags + keep decision, all inside
    one codegen'd projection (no shuffle, no UDF)."""
    _utc(spark)
    from biggraphite_spark.operators.text import quality_rules

    return quality_rules(_load_parallel(spark, sf_dir, "documents"))


_REPETITION_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
uni AS (SELECT doc_id, unnest(toks) AS gram FROM t),
bigr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i + 1])) AS gram
         FROM t WHERE len(toks) >= 2),
uc AS (SELECT doc_id, gram, count(*) AS c FROM uni GROUP BY 1, 2),
us AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS topf,
              sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dupf
       FROM uc GROUP BY doc_id),
bc AS (SELECT doc_id, gram, count(*) AS c FROM bigr GROUP BY 1, 2),
bs AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS topf,
              sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dupf
       FROM bc GROUP BY doc_id)
SELECT u.doc_id,
       ROUND(u.topf, 6) AS top_token_frac,
       ROUND(u.dupf, 6) AS dup_token_frac,
       ROUND(b.topf, 6) AS top_bigram_frac,
       ROUND(b.dupf, 6) AS dup_bigram_frac
FROM us u LEFT JOIN bs b ON u.doc_id = b.doc_id
"""


@_register("doc_repetition", _REPETITION_ORACLE)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate features (top-token/top-bigram/dup-bigram
    fractions) — linear posting-list shape, never O(len^2) per document."""
    _utc(spark)
    from biggraphite_spark.operators.text import repetition_stats

    return repetition_stats(_load_parallel(spark, sf_dir, "documents"))


def _dup_clusters_oracle(k: int = 16, bands: int = 4, final_select: str | None = None) -> str:
    """Transitive closure over the MinHash-LSH near-dup pairs as a DuckDB
    recursive CTE — a fully independent replay of signature, banding,
    verification, AND the connected-components fixpoint."""
    r = k // bands
    mins = ", ".join(
        f"min(substr(md5('{j // 4}:' || sh), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=" || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    final = final_select or (
        "SELECT l.doc_id, l.cluster_id, c.n AS cluster_size\n"
        "FROM lab l JOIN (SELECT cluster_id, COUNT(*) AS n FROM lab "
        "GROUP BY 1) c USING (cluster_id)"
    )
    return f"""
WITH RECURSIVE
d AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, unnest(sh) AS sh FROM d),
sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
pairs AS (SELECT doc_a, doc_b
          FROM (SELECT doc_a, doc_b, len(list_intersect(da.sh, db.sh)) AS shared,
                       len(da.sh) AS na, len(db.sh) AS nb
                FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
          WHERE shared * 1.0 / (na + nb - shared) >= 0.5),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (SELECT doc_id, doc_id AS root FROM documents
          UNION
          SELECT e.b AS doc_id, reach.root FROM reach JOIN edges e ON e.a = reach.doc_id),
lab AS (SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id)
{final}
"""


def _lsh_edges_ctes(k: int = 16, bands: int = 4) -> str:
    """The shared LSH near-dup edge-graph CTE prefix (shingles →
    signatures → bands → verified pairs → symmetric edges), identical to
    the `_dup_clusters_oracle` construction — callers append their own
    consumer CTEs/select."""
    r = k // bands
    mins = ", ".join(
        f"min(substr(md5('{j // 4}:' || sh), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=" || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
d AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, unnest(sh) AS sh FROM d),
sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
pairs AS (SELECT doc_a, doc_b
          FROM (SELECT doc_a, doc_b, len(list_intersect(da.sh, db.sh)) AS shared,
                       len(da.sh) AS na, len(db.sh) AS nb
                FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
          WHERE shared * 1.0 / (na + nb - shared) >= 0.5),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs)"""


@_register("doc_dup_clusters", _dup_clusters_oracle())
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components cluster assignment over the LSH near-dup graph
    (each component labelled by its minimum doc_id; every doc labelled,
    singletons included)."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import dup_clusters

    return dup_clusters(_load_parallel(spark, sf_dir, "documents"), threshold=0.5)


def _bm25_oracle() -> str:
    """Generated from operators.text.BM25_DEFAULT_TERMS with the standard
    k1=1.2, b=0.75 — the engine and oracle share one term table."""
    from biggraphite_spark.operators.text import BM25_DEFAULT_TERMS

    k1, b = 1.2, 0.75
    tfs = ", ".join(
        f"CAST(len(list_filter(toks, t -> t = '{tm}')) AS DOUBLE) AS tf_{i}"
        for i, tm in enumerate(BM25_DEFAULT_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1.0 ELSE 0.0 END) AS df_{i}"
        for i in range(len(BM25_DEFAULT_TERMS))
    )
    score = " + ".join(
        f"ln(1.0 + (N - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * {k1 + 1} / (tf_{i} + {k1} * ({1 - b} + {b} * dl / avgdl))"
        for i in range(len(BM25_DEFAULT_TERMS))
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
base AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, {tfs} FROM t),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl, {dfs} FROM base)
SELECT doc_id, CAST(dl AS BIGINT) AS doc_len, ROUND({score}, 6) AS bm25
FROM base, stats
"""


@_register("doc_bm25", _bm25_oracle())
def doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against a bag of query terms — corpus
    stats in one agg pass, re-attached via broadcast cross-join."""
    _utc(spark)
    from biggraphite_spark.operators.text import bm25_scores

    return bm25_scores(_load_parallel(spark, sf_dir, "documents"))


def _sample_oracle() -> str:
    """Generated from operators.sampling.DEFAULT_RATES — one externalized
    mixing table drives both engines; thresholds share rate_to_hex_threshold."""
    from biggraphite_spark.operators.sampling import DEFAULT_RATES, rate_to_hex_threshold

    conds = " OR ".join(
        f"(lang = '{lang}' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
        f" < '{rate_to_hex_threshold(rate)}')"
        for lang, rate in DEFAULT_RATES.items()
    )
    return f"""
SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
FROM documents WHERE {conds}
"""


@_register("doc_sample", _sample_oracle())
def doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by hashed doc id vs per-language
    keep-rate thresholds — reproducible corpus mixing, no rand()."""
    _utc(spark)
    from biggraphite_spark.operators.sampling import stratified_sample

    return stratified_sample(_load_parallel(spark, sf_dir, "documents"))


_PACK_BUDGET = 1024

_PACK_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n FROM documents),
o AS (SELECT doc_id, lang, n,
             COALESCE(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS off
      FROM t)
SELECT doc_id, lang AS stream, CAST(n AS BIGINT) AS n_tokens,
       CAST(floor(off / {_PACK_BUDGET}) AS BIGINT) AS seq_id,
       CAST(off % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM o
"""


@_register("doc_pack", _PACK_ORACLE)
def doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per-language token streams sliced
    into 1024-token training sequences (exclusive running-sum window)."""
    _utc(spark)
    from biggraphite_spark.operators.sampling import pack_sequences

    return pack_sequences(_load_parallel(spark, sf_dir, "documents"), _PACK_BUDGET)


_QUANT_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
r AS (SELECT pos, min(x) AS mn, max(x) AS mx
      FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
      GROUP BY pos),
ra AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM r),
q AS (SELECT vec_id, v,
             list_transform(generate_series(1, 64),
               i -> CASE WHEN mxs[i] - mns[i] != 0
                         THEN CAST(round(255 * (v[i] - mns[i]) / (mxs[i] - mns[i])) AS INT)
                         ELSE 0 END) AS codes,
             mns, mxs
      FROM e, ra),
rec AS (SELECT vec_id, v, codes,
               list_transform(generate_series(1, 64),
                 i -> mns[i] + CAST(codes[i] AS DOUBLE) * (mxs[i] - mns[i]) / 255.0) AS rv
        FROM q)
SELECT vec_id,
       array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',') AS codes,
       ROUND(list_sum(list_transform(generate_series(1, 64), i -> v[i] * rv[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform(rv, x -> x * x)))), 5) AS recon_cosine
FROM rec
"""


_PQ_DIST = (
    "list_transform(generate_series(1, 16), c -> "
    "list_sum(list_transform(generate_series(1, 8), i -> "
    "(v[(j-1)*8 + i] - cents[c][(j-1)*8 + i]) * (v[(j-1)*8 + i] - cents[c][(j-1)*8 + i]))))"
)

_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb AS (SELECT list(v ORDER BY vec_id) AS cents FROM e WHERE vec_id < 16),
dm AS (SELECT vec_id, v,
              list_transform(generate_series(1, 8), j -> {_PQ_DIST}) AS dmat
       FROM e, cb),
cd AS (SELECT vec_id, v,
              list_transform(dmat, d -> CAST(list_position(d, list_min(d)) AS INT) - 1) AS codes
       FROM dm),
rec AS (SELECT vec_id, v, codes,
               list_transform(generate_series(1, 64),
                 i -> cents[codes[CAST(floor((i - 1) / 8) AS INT) + 1] + 1][i]) AS rv
        FROM cd, cb)
SELECT vec_id,
       array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',') AS pq_codes,
       ROUND(list_sum(list_transform(generate_series(1, 64), i -> v[i] * rv[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform(rv, x -> x * x)))), 5) AS recon_cosine
FROM rec
"""


@_register("emb_pq", _PQ_ORACLE)
def emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (8 subspaces x 16 sampled centroids): per-vector
    m-code word + reconstruction cosine, codebook embedded as plan literals
    — zero-shuffle scan-speed compression (Jégou et al. 2011)."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import pq_quantize

    return pq_quantize(_load_parallel(spark, sf_dir, "embeddings"))


@_register("emb_quantize", _QUANT_ORACLE)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus (per-dimension
    affine codes as plan literals) + reconstruction cosine — the 4x memory
    lever for billion-scale ANN."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import quantize_int8

    return quantize_int8(_load_parallel(spark, sf_dir, "embeddings"))


_DOT64 = "list_sum(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]))"

_COSINE_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 5),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 5) AS sim
  FROM n c, q WHERE c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER w AS BIGINT) AS rank
FROM sims
WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
QUALIFY row_number() OVER w <= 10
"""


@_register("emb_cosine_topk", _COSINE_TOPK_ORACLE)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a 5-vector query batch: broadcast
    queries x corpus scan, rounded-sim ranking for determinism."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import cosine_topk

    emb = _load_parallel(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


from biggraphite_spark.operators.similarity import random_hyperplanes as _rh

_HYPERPLANES = _rh(6, 64, seed=7)


def _ann_lsh_oracle() -> str:
    hp_lits = ", ".join(
        "CAST([" + ", ".join(str(v) for v in plane) + "] AS DOUBLE[]) AS hp" + str(h)
        for h, plane in enumerate(_HYPERPLANES)
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {_DOT64.format(a='v', b=f'hp{h}')} >= 0 THEN {1 << h} ELSE 0 END)"
        for h in range(len(_HYPERPLANES))
    )
    return f"""
WITH hp AS (SELECT {hp_lits}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             CAST({bucket_terms} AS BIGINT) AS bucket
      FROM e, hp),
q AS (SELECT vec_id, v, nrm, bucket FROM n WHERE vec_id < 5),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 5) AS sim
  FROM n c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER w AS BIGINT) AS rank
FROM sims
WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
QUALIFY row_number() OVER w <= 5
"""


@_register("emb_ann_lsh", _ann_lsh_oracle())
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbours: 6 seeded hyperplanes ->
    64 sign buckets; candidates share the query's bucket (the scale path —
    pre-bucket the corpus and each query touches ~1/64 of it)."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import ann_lsh_topk

    emb = _load_parallel(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 5), _HYPERPLANES, k=5)


_CENTROIDS_ORACLE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT label, i, avg(v[i]) AS mean_val, count(DISTINCT vec_id) AS n_vectors
      FROM e, unnest(generate_series(1, 64)) t(i)
      GROUP BY label, i)
SELECT label, CAST(max(n_vectors) AS BIGINT) AS n_vectors,
       ROUND(sqrt(sum(mean_val * mean_val)), 5) AS centroid_norm
FROM x GROUP BY label
"""


@_register("emb_centroids", _CENTROIDS_ORACLE)
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics (the IVF cell summary): posexplode ->
    per-dimension mean -> norm."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import label_centroids

    return label_centroids(_load_parallel(spark, sf_dir, "embeddings"))


@_register("mm_features", _twin("mm_features_sql"))  # python-twin literal oracle
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (binary column + Arrow-batched mapInPandas
    featurization over synthesized payloads).  No oracle: the pandas-UDF
    path is deliberately outside DuckDB's surface; the driver records a
    rows-only check."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import extract_features, synthesize_media

    docs = _load_parallel(spark, sf_dir, "documents")
    return extract_features(synthesize_media(docs))


@_register("mm_decode", _twin("mm_decode_sql"))  # python-twin literal oracle
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode end to end: synthesize deterministic BMP payloads
    from the documents corpus, decode them executor-side
    (operators/multimodal.py pure-Python 24bpp codec), and reduce each
    pixel array to stable scalars with built-in higher-order functions.
    Pinned by an independent md5-stream golden in
    tests/test_multimodal_codecs.py; driver records rows-only."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import decode_image, synthesize_bmp_media

    docs = _load_parallel(spark, sf_dir, "documents")
    decoded = decode_image(synthesize_bmp_media(docs))
    return decoded.select(
        "media_id",
        "width",
        "height",
        F.size("pixels").alias("n_px"),
        F.expr("aggregate(pixels, 0L, (a, x) -> a + x)").alias("px_sum"),
        "error",
    )


@_register("mm_audio", _twin("mm_audio_sql"))  # python-twin literal oracle
def mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio end to end: synthesize deterministic PCM16 WAV payloads from
    the documents corpus, parse them executor-side (operators/multimodal.py
    RIFF/WAVE chunk walk), then compute RMS / peak / zero-crossings /
    duration entirely in JVM higher-order functions — only the byte-format
    parse runs in Python.  Pinned by an independent struct-level golden in
    tests/test_multimodal_codecs.py; driver records rows-only."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import (
        audio_features,
        decode_audio,
        synthesize_wav_media,
    )

    docs = _load_parallel(spark, sf_dir, "documents")
    return audio_features(decode_audio(synthesize_wav_media(docs)))


@_register("mm_resize", _twin("mm_resize_sql"))  # python-twin literal oracle
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image resize (8x8 -> 4x4) as a pure JVM projection
    over the decoded pixel arrays — no Python in the resample itself; the
    output is reduced to per-image checksums so the contract row is
    stable.  Golden: tests/test_multimodal_codecs.py pins the resample
    against an independent Python nearest-neighbor."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import (
        decode_image,
        resize_image,
        synthesize_bmp_media,
    )

    docs = _load_parallel(spark, sf_dir, "documents")
    small = resize_image(decode_image(synthesize_bmp_media(docs)), 4, 4)
    return small.select(
        "media_id",
        "width",
        "height",
        F.size("pixels").alias("n_px"),
        F.expr("aggregate(pixels, 0L, (a, x) -> a + x)").alias("px_sum"),
    )


@_register("mm_frames", _twin("mm_frames_sql"))  # python-twin literal oracle
def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling end to end: synthesize BGSV containers (4
    frames @250ms per doc), sample one frame per 500ms window
    executor-side, then decode each sampled frame through the BMP codec —
    the full demux -> sample -> decode pipeline, one mapInPandas stage per
    step, no shuffle anywhere.  Golden: tests/test_multimodal_codecs.py."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import (
        decode_image,
        frame_sample,
        synthesize_video_media,
    )

    docs = _load_parallel(spark, sf_dir, "documents")
    sampled = frame_sample(synthesize_video_media(docs), every_ms=500)
    frames = sampled.filter(F.col("error").isNull()).select(
        "media_id",
        "frame_idx",
        "t_ms",
        "content",
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("bmp").alias("format"),
            F.lit(4).alias("width"),
            F.lit(4).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    decoded = decode_image(
        frames.select(
            (F.col("media_id") * 1000 + F.col("frame_idx")).alias("media_id"),
            "content",
            "meta",
        )
    )
    return decoded.select(
        "media_id",
        "width",
        "height",
        F.size("pixels").alias("n_px"),
        F.expr("aggregate(pixels, 0L, (a, x) -> a + x)").alias("px_sum"),
        "error",
    )


_ND_HYPERPLANES = _rh(4, 64, seed=11)
_ND_THRESHOLD = 0.35


def _neardup_oracle() -> str:
    hp_lits = ", ".join(
        "CAST([" + ", ".join(str(v) for v in plane) + "] AS DOUBLE[]) AS hp" + str(h)
        for h, plane in enumerate(_ND_HYPERPLANES)
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {_DOT64.format(a='v', b=f'hp{h}')} >= 0 THEN {1 << h} ELSE 0 END)"
        for h in range(len(_ND_HYPERPLANES))
    )
    return f"""
WITH hp AS (SELECT {hp_lits}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             CAST({bucket_terms} AS BIGINT) AS bucket
      FROM e, hp),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_DOT64.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 5) AS sim
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= {_ND_THRESHOLD}
"""


@_register("emb_neardup", _neardup_oracle())
def emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked (the training-data
    dedup shape): candidates share a 4-hyperplane sign bucket, exact rounded
    cosine verifies the threshold.  At scale the corpus is pre-partitioned by
    bucket so the self-join is partition-local."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import embedding_near_dups

    emb = _load_parallel(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, _ND_HYPERPLANES, threshold=_ND_THRESHOLD)


def _ann_ivf_oracle(nprobe: int = 2, k: int = 5, corpus_where: str = "") -> str:
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT label, list(mean_val ORDER BY i) AS cv FROM (
    SELECT label, i, ROUND(avg(v[i]), 6) AS mean_val
    FROM e, unnest(generate_series(1, 64)) t(i)
    GROUP BY label, i)
  GROUP BY label
),
cn AS (SELECT label, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM cent),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, cn.label,
         ROUND({_DOT64.format(a='n.v', b='cn.cv')} / (n.nrm * cn.cnrm), 5) AS csim
  FROM n, cn
),
assigned AS (
  SELECT vec_id, v, nrm, label AS cell FROM scored {corpus_where}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, label) = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, label AS cell
  FROM scored WHERE vec_id < 5
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, label) <= {nprobe}
),
sims AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='p.qv', b='a.v')} / (p.qnrm * a.nrm), 5) AS sim
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER w AS BIGINT) AS rank
FROM sims
WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
QUALIFY row_number() OVER w <= {k}
"""


@_register("emb_ann_ivf", _ann_ivf_oracle())
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-label mean centroids as the coarse codebook, corpus
    assigned to nearest cell, queries probe their 2 closest cells and
    brute-force only inside them (partition pruning at scale)."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import ann_ivf_topk

    emb = _load_parallel(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, emb.filter(F.col("vec_id") < 5), nprobe=2, k=5)


def _ann_ivfpq_oracle(nprobe: int = 2, k: int = 5) -> str:
    """IVF cell assignment/probing composed with PQ encode/decode, candidate
    similarity scored asymmetrically (full query x reconstruction)."""
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT label, list(mean_val ORDER BY i) AS cv FROM (
    SELECT label, i, ROUND(avg(v[i]), 6) AS mean_val
    FROM e, unnest(generate_series(1, 64)) t(i)
    GROUP BY label, i)
  GROUP BY label
),
cn AS (SELECT label, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM cent),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, cn.label,
         ROUND({_DOT64.format(a='n.v', b='cn.cv')} / (n.nrm * cn.cnrm), 5) AS csim
  FROM n, cn
),
assigned AS (
  SELECT vec_id, v, label AS cell FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, label) = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, label AS cell
  FROM scored WHERE vec_id < 5
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, label) <= {nprobe}
),
cb AS (SELECT list(v ORDER BY vec_id) AS cents FROM e WHERE vec_id < 16),
dm AS (SELECT vec_id, v,
              list_transform(generate_series(1, 8), j -> {_PQ_DIST}) AS dmat
       FROM e, cb),
cd AS (SELECT vec_id,
              list_transform(dmat, d -> CAST(list_position(d, list_min(d)) AS INT) - 1) AS codes
       FROM dm),
rec AS (SELECT vec_id, codes,
               list_transform(generate_series(1, 64),
                 i -> cents[codes[CAST(floor((i - 1) / 8) AS INT) + 1] + 1][i]) AS rv
        FROM cd, cb),
rn AS (SELECT vec_id, rv, sqrt(list_sum(list_transform(rv, x -> x * x))) AS rnrm FROM rec),
sims AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='p.qv', b='rn.rv')} / (p.qnrm * rn.rnrm), 5) AS sim
  FROM assigned a
  JOIN probes p ON a.cell = p.cell AND a.vec_id != p.query_id
  JOIN rn ON rn.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER w AS BIGINT) AS rank
FROM sims
WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
QUALIFY row_number() OVER w <= {k}
"""


@_register("emb_ann_ivfpq", _ann_ivfpq_oracle())
def emb_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ combined ANN (coarse cells prune, PQ codes compress,
    asymmetric-distance scoring) — the billion-scale index layout, all as
    literal-codebook projections with one top-k shuffle."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import ann_ivfpq_topk

    emb = _load_parallel(spark, sf_dir, "embeddings")
    return ann_ivfpq_topk(emb, emb.filter(F.col("vec_id") < 5), nprobe=2, k=5)


# ---------------------------------------------------------------------------
# Graphite render-function layer (functions/series.py)
# ---------------------------------------------------------------------------

_GR_START = NOW - 10 * 86400


def _series_cte(pattern: str, start: int = _GR_START, end: int = NOW) -> str:
    """Hourly final series for a glob, values rounded so both engines feed
    identical inputs into the window math.

    The ``+ 1.23e-9`` inside the comparison rounds (here and in the paired
    Spark-side rounds) is a tie-breaker, not semantics: the two engines
    compute the same average with different FP association order, so a
    bucket whose exact value sits ON a 5e-7 rounding boundary can round
    differently from 1-ulp drift (first seen at sf0.1, where 10x the
    addends per bucket make boundary hits likely).  Nudging BOTH sides by
    an amount far above ulp (1.2e-10 at 1e6) and far below the 1e-6
    resolution moves every such tie off the boundary in the same
    direction.  Values already on the 1e-6 lattice are unaffected
    (round(x + 1.23e-9, 6) == x exactly), so unpaired downstream rounds of
    already-rounded values stay identities."""
    rx = ("^(?:" + compile_glob(pattern).regex + ")$").replace("'", "''")
    where = f"sec >= {start} AND sec < {end} AND regexp_matches(name, '{rx}')"
    return (
        f"pts AS ({_PTS}), f AS ({_oracle_final(3600, where=where)}), "
        "s AS (SELECT name, ts, ROUND(value + 1.23e-9, 6) AS value FROM f)"
    )


def _hourly_finals(spark: SparkSession, sf_dir: str, pattern: str) -> DataFrame:
    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, pattern)
    fetched = fetch_points(
        _stage1(spark, sf_dir), metrics, _GR_START, NOW, target=STAGE1
    )
    # Cluster by series BEFORE the gr_* queries cache this frame: a cached
    # HashPartitioning(name) satisfies ClusteredDistribution for every
    # downstream per-series window (partitionBy(name)) and per-(name,·)
    # aggregation (subset rule), so the branch fan-outs the render queries
    # run on top stop re-exchanging the same rows once per branch.
    # Measured at sf0.1: gr family 48.2 -> 41.2s, gr_render_tail 6.3 -> 4.3s,
    # no query worse than +0.1s (ts-keyed branches still exchange, but pay
    # the one up-front exchange instead of N).  At scale this is the
    # storage bucketing (PointStore.write_bucketed sortBy(name, ts)) made
    # explicit for the raw-read path.
    return fetched.withColumn("value", F.round(F.col("value") + 1.23e-9, 6)).repartition(
        F.col("name")
    )


_GR_COMBINE_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")}
SELECT 'sum' AS func, ts, ROUND(sum(value) + 1.23e-9, 6) AS value FROM s GROUP BY ts
UNION ALL SELECT 'average', ts, ROUND(avg(value) + 1.23e-9, 6) FROM s GROUP BY ts
UNION ALL SELECT 'max', ts, ROUND(max(value) + 1.23e-9, 6) FROM s GROUP BY ts
UNION ALL SELECT 'p50', ts, ROUND(quantile_cont(value, 0.5) + 1.23e-9, 6) FROM s GROUP BY ts
"""


@_register("gr_series_combine", _GR_COMBINE_ORACLE)
def gr_series_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumSeries / averageSeries / maxSeries / percentileOfSeries across all
    series of a glob, bucket by bucket (graphite-web combinators re-expressed
    as per-ts aggregation; the shuffle key cardinality is the window length)."""
    _utc(spark)
    from biggraphite_spark.functions.series import combine, percentile_of_series

    s = _hourly_finals(spark, sf_dir, "bg.purchase.*").cache()
    s.count()  # materialize before the branches fan out, else each branch
    # races the cold cache and recomputes the downsample subtree
    parts = [
        combine(s, how).select(F.lit(func).alias("func"), "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value"))
        for func, how in (("sum", "sum"), ("average", "average"), ("max", "max"))
    ]
    p50 = percentile_of_series(s, 50).select(
        F.lit("p50").alias("func"), "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value")
    )
    out = parts[0]
    for p in parts[1:] + [p50]:
        out = out.unionAll(p)
    return out


_GR_MOVING_ORACLE = f"""
WITH {_series_cte("bg.error.u1*")},
w AS (
  SELECT name, ts,
         ROUND(avg(value) OVER w4, 6) AS mavg4,
         ROUND(value - lag(value) OVER w1, 6) AS deriv,
         ROUND(sum(value) OVER wcum, 6) AS integ
  FROM s
  WINDOW w4 AS (PARTITION BY name ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
         w1 AS (PARTITION BY name ORDER BY ts),
         wcum AS (PARTITION BY name ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT name, ts, 'mavg4' AS func, mavg4 AS value FROM w
UNION ALL SELECT name, ts, 'deriv', deriv FROM w
UNION ALL SELECT name, ts, 'integ', integ FROM w
"""


@_register("gr_moving_deriv", _GR_MOVING_ORACLE)
def gr_moving_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movingAverage(4) + derivative + integral per series — trailing-frame
    window functions partitioned by name.  Each function yields its own
    series (graphite's model); the branches share one (name)-hash exchange
    over the cached input instead of re-joining on (name, ts), and are
    shuffle-free outright under name-bucketed storage."""
    _utc(spark)
    from biggraphite_spark.functions.series import derivative, integral, moving

    s = _hourly_finals(spark, sf_dir, "bg.error.u1*").cache()
    s.count()  # materialize before the branches fan out (see gr_series_combine)
    parts = [
        (moving(s, 4), "mavg4"),
        (derivative(s), "deriv"),
        (integral(s), "integ"),
    ]
    out = None
    for df, func in parts:
        branch = df.select(
            "name", "ts", F.lit(func).alias("func"), F.round("value", 6).alias("value")
        )
        out = branch if out is None else out.unionAll(branch)
    return out


_GR_TOPK_ORACLE = f"""
WITH {_series_cte("bg.*.*")},
stats AS (SELECT name, ROUND(avg(value), 6) AS stat FROM s GROUP BY name),
top AS (
  SELECT name, stat,
         CAST(row_number() OVER (ORDER BY stat DESC, name) AS BIGINT) AS rank
  FROM stats
  QUALIFY row_number() OVER (ORDER BY stat DESC, name) <= 5
)
SELECT s.name, s.ts, s.value, top.stat, top.rank,
       concat_ws('.', string_split(s.name, '.')[2], string_split(s.name, '.')[3]) AS alias
FROM s JOIN top ON s.name = top.name
"""


@_register("gr_topk_series", _GR_TOPK_ORACLE)
def gr_topk_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """highestAverage(5) + aliasByNode(1,2): top-k series selection by a
    rounded per-series statistic (broadcast the tiny winner set back onto the
    series), graphite's dashboard staple."""
    _utc(spark)
    from biggraphite_spark.functions.series import alias_by_node, highest

    s = _hourly_finals(spark, sf_dir, "bg.*.*")
    return alias_by_node(highest(s, 5, "average"), 1, 2)


_GR_SUMMARIZE_ORACLE = f"""
WITH pts AS ({_PTS}),
m AS (SELECT DISTINCT name FROM pts WHERE regexp_matches(name, '{_GAP_RX}')),
d AS ({_oracle_final(86400, where=f"sec >= {_GAP_START} AND sec < {NOW}")}),
grid AS (SELECT m.name, g.ts FROM m
         CROSS JOIN (SELECT CAST(ts AS BIGINT) AS ts
                     FROM generate_series({_GAP_START}, {NOW - 86400}, 86400) t(ts)) g),
joined AS (SELECT grid.name, grid.ts, ROUND(d.value + 1.23e-9, 6) AS value
           FROM grid LEFT JOIN d ON d.name = grid.name AND d.ts = grid.ts),
filled AS (SELECT name, ts,
                  last_value(value IGNORE NULLS) OVER (
                    PARTITION BY name ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
           FROM joined)
SELECT name, (ts // 172800) * 172800 AS ts, ROUND(max(value), 6) AS value
FROM filled GROUP BY name, (ts // 172800) * 172800
"""


@_register("gr_summarize_ffill", _GR_SUMMARIZE_ORACLE)
def gr_summarize_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense grid -> keepLastValue (forward fill) -> summarize(2d, max):
    the composed render pipeline over gap-filled series."""
    _utc(spark)
    from biggraphite_spark.functions.series import keep_last_value, summarize

    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.error.u*")
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, _GAP_START, NOW, target=STAGE2)
    dense = dense_series(fetched, metrics, _GAP_START, NOW, 86400).withColumn(
        "value", F.round(F.col("value") + 1.23e-9, 6)
    )
    filled = keep_last_value(dense)
    out = summarize(filled, 2 * 86400, "max")
    return out.select("name", "ts", F.round("value", 6).alias("value"))


def _gr_ratio_oracle() -> str:
    rx_err = ("^(?:" + compile_glob("bg.error.*").regex + ")$").replace("'", "''")
    rx_all = ("^(?:" + compile_glob("bg.*.*").regex + ")$").replace("'", "''")
    base = f"sec >= {_GR_START} AND sec < {NOW}"
    return f"""
WITH pts AS ({_PTS}),
f_err AS ({_oracle_final(3600, where=f"{base} AND regexp_matches(name, '{rx_err}')")}),
f_all AS ({_oracle_final(3600, where=f"{base} AND regexp_matches(name, '{rx_all}')")}),
s_err AS (SELECT name, ts, ROUND(value + 1.23e-9, 6) AS value FROM f_err),
s_all AS (SELECT name, ts, ROUND(value + 1.23e-9, 6) AS value FROM f_all),
num AS (SELECT ts, sum(value) AS num FROM s_err GROUP BY ts),
den AS (SELECT ts, sum(value) AS den FROM s_all GROUP BY ts)
SELECT 'ratio' AS func, CAST(NULL AS VARCHAR) AS name, COALESCE(num.ts, den.ts) AS ts,
       ROUND(CASE WHEN den != 0 THEN num / den END, 6) AS value
FROM num FULL OUTER JOIN den ON num.ts = den.ts
UNION ALL
SELECT 'stddev', CAST(NULL AS VARCHAR), ts, ROUND(stddev_pop(value), 6)
FROM s_all GROUP BY ts
UNION ALL
SELECT 'rap', s.name, s.ts,
       ROUND(CASE WHEN s.value <= c.cut THEN s.value END, 6)
FROM s_err s JOIN (
  SELECT name, quantile_cont(value, 0.9) AS cut FROM s_err GROUP BY name
) c ON s.name = c.name
UNION ALL
SELECT 'wavg', CAST(NULL AS VARCHAR), v.ts,
       ROUND(sum(v.value * w.value) / NULLIF(sum(w.value), 0), 6)
FROM (SELECT string_split(name, '.')[3] AS k, ts, value FROM s_err) v
JOIN (SELECT string_split(name, '.')[3] AS k, ts, value FROM s_all
      WHERE starts_with(name, 'bg.purchase.')) w
  ON v.k = w.k AND v.ts = w.ts
GROUP BY v.ts
"""


@_register("gr_ratio_pct", _gr_ratio_oracle())
def gr_ratio_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """divideSeries (error share of total traffic) + stddevSeries +
    removeAbovePercentile(90) + weightedAverage(err, purchase, node=2) —
    the graphite ratio/dispersion staples as joins/windows over combined
    series.  weightedAverage pairs the two sides by the *user* name
    component (node 2), graphite's node-keyed pairing — the full names
    differ (bg.error.uNN vs bg.purchase.uNN) by design."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        divide_series,
        remove_above_percentile,
        stddev_series,
        weighted_average,
    )

    s_all = _hourly_finals(spark, sf_dir, "bg.*.*").cache()
    s_all.count()  # materialize before branch fan-out
    # bg.error.* ⊂ bg.*.* — filter the cached superset instead of deriving
    # (and caching, and counting) a second finals relation from scratch
    err_rx = "^(?:" + compile_glob("bg.error.*").regex + ")$"
    s_err = s_all.filter(F.col("name").rlike(err_rx))
    null_name = F.lit(None).cast("string").alias("name")
    ratio = divide_series(s_err, s_all).select(
        F.lit("ratio").alias("func"), null_name, "ts", F.round("value", 6).alias("value")
    )
    sd = stddev_series(s_all).select(
        F.lit("stddev").alias("func"), null_name, "ts", F.round("value", 6).alias("value")
    )
    rap = remove_above_percentile(s_err, 90).select(
        F.lit("rap").alias("func"), "name", "ts", F.round("value", 6).alias("value")
    )
    wavg = weighted_average(
        s_err, s_all.filter(F.col("name").startswith("bg.purchase.")), 2
    ).select(
        F.lit("wavg").alias("func"), null_name, "ts", F.round("value", 6).alias("value")
    )
    return ratio.unionAll(sd).unionAll(rap).unionAll(wavg)


_GR_SLICE_LO = _GR_START + 2 * 86400
_GR_SLICE_HI = NOW - 2 * 86400

_GR_FILTER_ORACLE = f"""
WITH {_series_cte("bg.*.*")},
stats AS (SELECT name, avg(value) AS stat FROM s GROUP BY name),
thr AS (SELECT avg(stat) AS t FROM stats),
kept AS (SELECT stats.name FROM stats, thr
         WHERE stats.stat > thr.t AND NOT regexp_matches(stats.name, 'u1[0-9]$')),
npstat AS (SELECT s.name, quantile_cont(s.value, 0.9) AS value
           FROM s JOIN kept ON s.name = kept.name GROUP BY s.name),
steps AS (SELECT name, min(d) AS step FROM (
            SELECT name, ts - lag(ts) OVER (PARTITION BY name ORDER BY ts) AS d
            FROM s) t
          WHERE d IS NOT NULL GROUP BY name)
SELECT 'npct' AS func, s.name AS name, s.ts AS ts, ROUND(n.value, 6) AS value
FROM s JOIN npstat n ON s.name = n.name
UNION ALL
SELECT 'bynode', string_split(s.name, '.')[2], s.ts, ROUND(sum(s.value), 6)
FROM s GROUP BY 2, 3
UNION ALL
SELECT 'hitcount', s.name, s.ts - s.ts % 86400, ROUND(sum(s.value * st.step), 6)
FROM s LEFT JOIN steps st ON s.name = st.name GROUP BY 2, 3
UNION ALL
SELECT 'slice', name, ts,
       ROUND(CASE WHEN ts >= {_GR_SLICE_LO} AND ts <= {_GR_SLICE_HI}
                  THEN COALESCE(value, -1.0) ELSE -1.0 END, 6)
FROM s
"""


@_register("gr_filter_select", _GR_FILTER_ORACLE)
def gr_filter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """averageAbove + exclude + nPercentile(90) + groupByNode + hitcount +
    timeSlice/transformNull — the render-side selection/filter staples.  The
    averageAbove threshold (mean of per-series means) is collected as a
    plan-time literal, the same codebook-as-literal move as emb_ann_ivf; the
    series-statistic filters broadcast their tiny kept-set back onto the
    series, so the big relation never shuffles for selection."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        average_above,
        exclude,
        group_by_node,
        hitcount,
        n_percentile,
        time_slice,
        transform_null,
    )

    s = _hourly_finals(spark, sf_dir, "bg.*.*").cache()
    s.count()  # materialize before branch fan-out (see gr_series_combine)
    thr = (
        s.groupBy("name")
        .agg(F.avg("value").alias("stat"))
        .agg(F.avg("stat"))
        .collect()[0][0]
    )
    kept = exclude(average_above(s, thr), r"u1[0-9]$")
    rounded = F.round("value", 6).alias("value")
    npct = n_percentile(kept, 90).select(
        F.lit("npct").alias("func"), "name", "ts", rounded
    )
    bynode = group_by_node(s, 1, "sum").select(
        F.lit("bynode").alias("func"), "name", "ts", rounded
    )
    hc = hitcount(s, 86400).select(
        F.lit("hitcount").alias("func"), "name", "ts", rounded
    )
    sliced = transform_null(time_slice(s, _GR_SLICE_LO, _GR_SLICE_HI), -1.0).select(
        F.lit("slice").alias("func"), "name", "ts", rounded
    )
    return npct.unionAll(bynode).unionAll(hc).unionAll(sliced)


_GR_WINDOW_ORACLE = f"""
WITH {_series_cte("bg.error.u1*")},
fit AS (
  SELECT name, min(ts) AS mn,
         regr_slope(value, ts - (SELECT min(ts) FROM s s2 WHERE s2.name = s.name)) AS slope,
         regr_intercept(value, ts - (SELECT min(ts) FROM s s2 WHERE s2.name = s.name)) AS icept
  FROM s GROUP BY name
)
SELECT 'linreg' AS func, s.name AS name, s.ts AS ts,
       ROUND(f.slope * (s.ts - f.mn) + f.icept, 4) AS value
FROM s JOIN fit f ON s.name = f.name
UNION ALL
SELECT 'mmed4', name, ts, ROUND(median(value) OVER w4, 6) FROM s
WINDOW w4 AS (PARTITION BY name ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
QUALIFY row_number() OVER (PARTITION BY name ORDER BY ts) > 4
UNION ALL
SELECT 'stdev4', name, ts, ROUND(stddev_pop(value) OVER w5, 6) FROM s
WINDOW w5 AS (PARTITION BY name ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'changed', name, ts,
       CASE WHEN lag(value) OVER w1 IS NOT NULL AND value IS NOT NULL
                 AND value != lag(value) OVER w1 THEN 1.0 ELSE 0.0 END
FROM s WINDOW w1 AS (PARTITION BY name ORDER BY ts)
"""


@_register("gr_window_stats", _GR_WINDOW_ORACLE)
def gr_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linearRegression + movingMedian(4) + stdev(4) + changed — the
    analytic-window render functions.  movingMedian follows graphite's
    current-exclusive trailing window with the first 4 buckets consumed as
    warm-up; stdev is graphite's population deviation.  The regression is
    built-in regr_slope/regr_intercept (no UDF) with x rebased per series
    for numeric stability; all four branches share the cached input's
    single (name)-hash exchange."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        changed,
        linear_regression,
        moving_median,
        stdev,
    )

    s = _hourly_finals(spark, sf_dir, "bg.error.u1*").cache()
    s.count()  # materialize before branch fan-out (see gr_series_combine)
    parts = [
        (linear_regression(s), "linreg", 4),
        (moving_median(s, 4), "mmed4", 6),
        (stdev(s, 4), "stdev4", 6),
        (changed(s), "changed", 6),
    ]
    out = None
    for df, func, digits in parts:
        branch = df.select(
            F.lit(func).alias("func"), "name", "ts",
            F.round("value", digits).alias("value"),
        )
        out = branch if out is None else out.unionAll(branch)
    return out


def _gr_interp_oracle() -> str:
    return f"""
WITH pts AS ({_PTS}),
m AS (SELECT DISTINCT name FROM pts WHERE regexp_matches(name, '{_GAP_RX}')),
d AS ({_oracle_final(86400, where=f"sec >= {_GAP_START} AND sec < {NOW}")}),
grid AS (SELECT m.name, g.ts FROM m
         CROSS JOIN (SELECT CAST(ts AS BIGINT) AS ts
                     FROM generate_series({_GAP_START}, {NOW - 86400}, 86400) t(ts)) g),
s AS (SELECT grid.name, grid.ts, ROUND(d.value + 1.23e-9, 6) AS value
      FROM grid LEFT JOIN d ON d.name = grid.name AND d.ts = grid.ts),
marks AS (
  SELECT name, ts, value,
         last_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
           OVER (PARTITION BY name ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pts_,
         last_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS)
           OVER (PARTITION BY name ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pval,
         first_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
           OVER (PARTITION BY name ORDER BY ts
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nts,
         first_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS)
           OVER (PARTITION BY name ORDER BY ts
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nval
  FROM s
)
SELECT 'interp' AS func, name, ts,
       ROUND(CASE WHEN value IS NOT NULL THEN value
                  WHEN pts_ IS NOT NULL AND nts IS NOT NULL
                  THEN pval + (nval - pval) * (ts - pts_) / (nts - pts_)
             END + 1.23e-9, 6) AS value
FROM marks
UNION ALL
SELECT 'log10', name, ts,
       ROUND(CASE WHEN value > 0 THEN log10(value) END + 1.23e-9, 6) FROM s
UNION ALL
SELECT 'otz', name, ts,
       ROUND(value - min(value) OVER (PARTITION BY name) + 1.23e-9, 6) FROM s
UNION ALL
SELECT 'delay1', name, ts,
       ROUND(lag(value) OVER (PARTITION BY name ORDER BY ts) + 1.23e-9, 6) FROM s
UNION ALL
SELECT 'range', NULL, ts, ROUND(max(value) - min(value) + 1.23e-9, 6) FROM s GROUP BY ts
UNION ALL
SELECT 'count', NULL, ts, ROUND(CAST(count(value) AS DOUBLE) + 1.23e-9, 6) FROM s GROUP BY ts
UNION ALL
SELECT 'product', NULL, ts,
       ROUND(CASE WHEN count(*) = count(value)
                  THEN sign(product(value)) * log10(abs(product(value)) + 1)
             END + 1.23e-9, 6) + 0.0
FROM s GROUP BY ts
UNION ALL
SELECT 'wild', concat_ws('.', string_split(name, '.')[1], string_split(name, '.')[3]),
       ts, ROUND(avg(value) + 1.23e-9, 6)
FROM s GROUP BY 2, 3
"""


@_register("gr_interp_arith", _gr_interp_oracle())
def gr_interp_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interpolate (linear gap fill, pure window algebra) + logarithm +
    offsetToZero + delay + rangeOfSeries/countSeries/multiplySeries
    combinators + averageSeriesWithWildcards(1) over the gapped daily grid.
    multiplySeries is compared in signed-log space (sign·log10(|p|+1)) so
    the order-dependent float product's last-ulp wobble — relative, hence
    tiny and absolute after the log — survives the 6-digit rounding both
    engines hash at; the gapped grid also exercises its any-null-is-null
    gate."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        average_series_with_wildcards,
        count_series,
        delay,
        interpolate,
        logarithm,
        multiply_series,
        offset_to_zero,
        range_of_series,
    )

    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.error.u*")
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, _GAP_START, NOW, target=STAGE2)
    s = (
        dense_series(fetched, metrics, _GAP_START, NOW, 86400)
        .withColumn("value", F.round(F.col("value") + 1.23e-9, 6))
        .cache()
    )
    s.count()  # materialize before branch fan-out (see gr_series_combine)
    rounded = F.round(F.col("value") + 1.23e-9, 6).alias("value")
    null_name = F.lit(None).cast("string").alias("name")
    per_series = [
        (interpolate(s), "interp"),
        (logarithm(s), "log10"),
        (offset_to_zero(s), "otz"),
        (delay(s, 1), "delay1"),
    ]
    out = None
    for df, func in per_series:
        branch = df.select(F.lit(func).alias("func"), "name", "ts", rounded)
        out = branch if out is None else out.unionAll(branch)
    out = out.unionAll(
        range_of_series(s).select(F.lit("range").alias("func"), null_name, "ts", rounded)
    )
    out = out.unionAll(
        count_series(s).select(F.lit("count").alias("func"), null_name, "ts", rounded)
    )
    p = F.col("value")
    signed_log = (F.round(F.signum(p) * F.log10(F.abs(p) + 1) + 1.23e-9, 6) + 0.0).alias("value")
    out = out.unionAll(
        multiply_series(s).select(
            F.lit("product").alias("func"), null_name, "ts", signed_log
        )
    )
    out = out.unionAll(
        average_series_with_wildcards(s, 1).select(
            F.lit("wild").alias("func"), "name", "ts", rounded
        )
    )
    return out


_GR_MISC_ORACLE = f"""
WITH pts AS ({_PTS}),
m AS (SELECT DISTINCT name FROM pts WHERE regexp_matches(name, '{_GAP_RX}')),
d AS ({_oracle_final(86400, where=f"sec >= {_GAP_START} AND sec < {NOW}")}),
grid AS (SELECT m.name AS name, g.ts AS ts FROM m
         CROSS JOIN (SELECT CAST(ts AS BIGINT) AS ts
                     FROM generate_series({_GAP_START}, {NOW - 86400}, 86400) t(ts)) g),
s AS (SELECT grid.name AS name, grid.ts AS ts, ROUND(d.value + 1.23e-9, 6) AS value
      FROM grid LEFT JOIN d ON d.name = grid.name AND d.ts = grid.ts),
frac AS (SELECT name, count(value) * 1.0 / count(*) AS frac FROM s GROUP BY name),
stats AS (SELECT name, ROUND(avg(value), 6) AS stat FROM s GROUP BY name
          HAVING stat IS NOT NULL),
arr AS (SELECT list_sort(list(stat)) AS a FROM stats),
bounds AS (
  SELECT a[greatest(least(CAST(floor(0.10 * (len(a) + 1)) AS INT), len(a)), 1)] AS lo,
         a[greatest(least(CAST(floor(0.90 * (len(a) + 1)) AS INT), len(a)), 1)] AS hi
  FROM arr
)
SELECT 'scale2s' AS func, name, ts, ROUND(value * 3600 / 86400, 6) AS value FROM s
UNION ALL
SELECT 'nonnull', name, ts, CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0.0 END FROM s
UNION ALL
SELECT 'minmax', name, ts,
       ROUND(CASE WHEN (max(value) OVER wn - min(value) OVER wn) != 0
                  THEN (value - min(value) OVER wn)
                       / (max(value) OVER wn - min(value) OVER wn)
                  WHEN value IS NOT NULL THEN 0.0 END, 6)
FROM s WINDOW wn AS (PARTITION BY name)
UNION ALL
SELECT 'sigmoid', name, ts, ROUND(1.0 / (1.0 + exp(-value)), 6) FROM s
UNION ALL
SELECT 'round1', name, ts, ROUND(ROUND(value, 1), 6) FROM s
UNION ALL
SELECT 'integ3d', name, ts,
       ROUND(sum(value) OVER (PARTITION BY name, ts - ts % {3 * 86400} ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
FROM s
UNION ALL
SELECT 'wildsum', concat_ws('.', string_split(name, '.')[1], string_split(name, '.')[3]),
       ts, ROUND(sum(value), 6)
FROM s GROUP BY 2, 3
UNION ALL
SELECT 'rempty', s.name, s.ts, ROUND(s.value, 6)
FROM s JOIN frac ON s.name = frac.name WHERE frac.frac >= 0.5
UNION ALL
SELECT 'outpct', s.name, s.ts, ROUND(s.value, 6)
FROM s JOIN stats ON s.name = stats.name CROSS JOIN bounds
WHERE NOT (stats.stat > bounds.lo AND stats.stat < bounds.hi)
"""


@_register("gr_render_misc", _GR_MISC_ORACLE)
def gr_render_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scaleToSeconds + isNonNull + minMax + sigmoid + round +
    integralByInterval + sumSeriesWithWildcards + removeEmptySeries(0.5) +
    averageOutsidePercentile(90) over the gapped daily grid — the render
    transform/selection tail.  averageOutsidePercentile reproduces
    graphite's NON-interpolated percentile (sorted-array rank indexing),
    which the interpolated percentile() would get wrong on 15 series."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        average_outside_percentile,
        combine_series_with_wildcards,
        integral_by_interval,
        is_non_null,
        min_max,
        remove_empty_series,
        round_series,
        scale_to_seconds,
        sigmoid_series,
    )

    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.error.u*")
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, _GAP_START, NOW, target=STAGE2)
    s = (
        dense_series(fetched, metrics, _GAP_START, NOW, 86400)
        .withColumn("value", F.round(F.col("value") + 1.23e-9, 6))
        .cache()
    )
    s.count()  # materialize before branch fan-out (see gr_series_combine)
    rounded = F.round("value", 6).alias("value")
    parts = [
        (scale_to_seconds(s, 3600), "scale2s"),
        (is_non_null(s), "nonnull"),
        (min_max(s), "minmax"),
        (sigmoid_series(s), "sigmoid"),
        (round_series(s, 1), "round1"),
        (integral_by_interval(s, 3 * 86400), "integ3d"),
        (combine_series_with_wildcards(s, "sum", 1), "wildsum"),
        (remove_empty_series(s, 0.5), "rempty"),
        (average_outside_percentile(s, 90), "outpct"),
    ]
    out = None
    for df, func in parts:
        branch = df.select(F.lit(func).alias("func"), "name", "ts", rounded)
        out = branch if out is None else out.unionAll(branch)
    return out


_GR_REDUCE_ORACLE = f"""
WITH {_series_cte("bg.*.*")},
t AS (SELECT string_split(name, '.')[1] || '.' || string_split(name, '.')[3] AS k,
             string_split(name, '.')[2] AS role, ts, value
      FROM s WHERE string_split(name, '.')[2] IN ('error', 'purchase')),
p AS (SELECT k, ts,
             max(CASE WHEN role = 'error' THEN value END) AS va,
             max(CASE WHEN role = 'purchase' THEN value END) AS vb
      FROM t GROUP BY k, ts)
SELECT 'aspct' AS func, k || '.asPercent' AS name, ts,
       ROUND(100.0 * va / NULLIF(vb, 0.0), 6) AS value
FROM p
UNION ALL
SELECT 'div', k || '.divideSeries', ts, ROUND(va / NULLIF(vb, 0.0), 6) FROM p
UNION ALL
SELECT 'map', string_split(name, '.')[2] || '|' || name, ts, ROUND(value, 6) FROM s
"""


@_register("gr_reduce", _GR_REDUCE_ORACLE)
def gr_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapSeries/reduceSeries: error-vs-purchase per user via the asPercent
    and divideSeries reducers (role pivot = one conditional hash
    aggregation, no self-join), plus the mapSeries key tagging."""
    _utc(spark)
    from biggraphite_spark.functions.series import map_series, reduce_series

    s = _hourly_finals(spark, sf_dir, "bg.*.*").cache()
    s.count()  # materialize before branch fan-out
    rounded = F.round("value", 6).alias("value")
    aspct = reduce_series(s, "asPercent", 1, "error", "purchase").select(
        F.lit("aspct").alias("func"), "name", "ts", rounded
    )
    div = reduce_series(s, "divideSeries", 1, "error", "purchase").select(
        F.lit("div").alias("func"), "name", "ts", rounded
    )
    mapped = map_series(s, 1).select(
        F.lit("map").alias("func"),
        F.concat_ws("|", "map_key", "name").alias("name"),
        "ts",
        rounded,
    )
    return aspct.unionAll(div).unionAll(mapped)


_TAIL_SHIFT = 86400
_TAIL_BUCKET = 3 * 86400
_TAIL_THR = 50.0


def _gr_tail_oracle() -> str:
    err_rx = ("^(?:" + compile_glob("bg.error.*").regex + ")$").replace("'", "''")
    return f"""
WITH {_series_cte("bg.*.*")},
err AS (SELECT * FROM s WHERE regexp_matches(name, '{err_rx}')),
purch AS (SELECT * FROM s WHERE starts_with(name, 'bg.purchase.')),
lastv AS (SELECT name, arg_max(value, ts) AS lv FROM s
          WHERE value IS NOT NULL GROUP BY name),
nr AS (SELECT name, row_number() OVER (ORDER BY name) AS r
       FROM (SELECT DISTINCT name FROM err)),
dr AS (SELECT name, row_number() OVER (ORDER BY name) AS r
       FROM (SELECT DISTINCT name FROM purch)),
grid AS (SELECT CAST(ts AS BIGINT) AS ts
         FROM generate_series({_GR_START}, {_GR_START + _TAIL_BUCKET - 1}, {_TAIL_SHIFT}) t(ts))
SELECT 'smartsum' AS func, name,
       {_GR_START} + (ts - {_GR_START}) - ((ts - {_GR_START}) % {_TAIL_BUCKET}) AS ts,
       ROUND(sum(value), 6) AS value
FROM s GROUP BY 1, 2, 3
UNION ALL
SELECT 'minima', name, CAST(0 AS BIGINT), CAST(rnk AS DOUBLE)
FROM (SELECT name, row_number() OVER (ORDER BY stat, name) AS rnk
      FROM (SELECT name, ROUND(min(value), 6) AS stat, max(value) AS mx
            FROM s GROUP BY name) WHERE mx > 0)
UNION ALL
SELECT 'cura', s.name, ts, ROUND(value, 6)
FROM s JOIN lastv ON s.name = lastv.name WHERE lastv.lv > {_TAIL_THR}
UNION ALL
SELECT 'curb', s.name, ts, ROUND(value, 6)
FROM s JOIN lastv ON s.name = lastv.name WHERE lastv.lv <= {_TAIL_THR}
UNION ALL
SELECT 'aggline', name, ts, ROUND(avg(value) OVER (PARTITION BY name), 6) FROM s
UNION ALL
SELECT 'stack', name || '.shift_' || i, ts + i * {_TAIL_SHIFT}, ROUND(value, 6)
FROM err CROSS JOIN (VALUES (0), (1), (2)) t(i)
UNION ALL
SELECT 'divlists', err.name, err.ts,
       ROUND(err.value / NULLIF(purch.value, 0.0), 6)
FROM err JOIN nr ON err.name = nr.name
JOIN dr ON nr.r = dr.r JOIN purch ON purch.name = dr.name AND purch.ts = err.ts
UNION ALL
SELECT 'gbn', string_split(name, '.')[1] || '.' || string_split(name, '.')[3],
       ts, ROUND(sum(value), 6)
FROM s GROUP BY 2, 3
UNION ALL
SELECT 'sub', concat_ws('.', string_split(name, '.')[2], string_split(name, '.')[3]),
       ts, ROUND(value, 6)
FROM err
UNION ALL
SELECT 'uniq', name, ts, ROUND(value, 6) FROM err
UNION ALL
SELECT 'uniq', name, ts, ROUND(value, 6) FROM s
WHERE name NOT IN (SELECT name FROM nr)
UNION ALL
SELECT 'const', 'constantLine', ts, 42.5 FROM grid
UNION ALL
SELECT 'time', 'time', ts, CAST(ts AS DOUBLE) FROM grid
UNION ALL
SELECT 'fallback', 'constantLine', ts, 42.5 FROM grid
"""


@_register("gr_render_tail", _gr_tail_oracle())
def gr_render_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """smartSummarize + sortByMinima + currentAbove/Below + aggregateLine +
    timeStack + divideSeriesLists + groupByNodes + substr + unique +
    constantLine/time + fallbackSeries — the remaining render-function tail
    in one union query over the cached hourly finals."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        aggregate_line,
        constant_line,
        current_above,
        current_below,
        divide_series_lists,
        fallback_series,
        group_by_nodes,
        smart_summarize,
        sort_by_minima,
        substr_series,
        time_function,
        time_stack,
        unique_series,
    )

    s = _hourly_finals(spark, sf_dir, "bg.*.*").cache()
    s.count()  # materialize before branch fan-out (see gr_series_combine)
    err_rx = "^(?:" + compile_glob("bg.error.*").regex + ")$"
    err = s.filter(F.col("name").rlike(err_rx))
    purch = s.filter(F.col("name").startswith("bg.purchase."))
    rounded = F.round("value", 6).alias("value")

    def tag(df: DataFrame, func: str) -> DataFrame:
        return df.select(F.lit(func).alias("func"), "name", "ts", rounded)

    branches = [
        tag(smart_summarize(s, _TAIL_BUCKET, "sum", origin=_GR_START), "smartsum"),
        sort_by_minima(s).select(
            F.lit("minima").alias("func"),
            "name",
            F.lit(0).cast("long").alias("ts"),
            F.col("rank").cast("double").alias("value"),
        ).distinct(),
        tag(current_above(s, _TAIL_THR), "cura"),
        tag(current_below(s, _TAIL_THR), "curb"),
        tag(aggregate_line(s, "average"), "aggline"),
        tag(time_stack(err, _TAIL_SHIFT, 0, 3), "stack"),
        tag(divide_series_lists(err, purch), "divlists"),
        tag(group_by_nodes(s, "sum", 0, 2), "gbn"),
        tag(substr_series(err, 1, 3), "sub"),
        tag(unique_series(err, s), "uniq"),
        tag(
            constant_line(spark, 42.5, _GR_START, _GR_START + _TAIL_BUCKET, _TAIL_SHIFT),
            "const",
        ),
        tag(time_function(spark, "time", _GR_START, _GR_START + _TAIL_BUCKET, _TAIL_SHIFT), "time"),
        tag(
            fallback_series(
                s.filter(F.col("name") == "no.such.name"),
                constant_line(
                    spark, 42.5, _GR_START, _GR_START + _TAIL_BUCKET, _TAIL_SHIFT
                ),
            ),
            "fallback",
        ),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


def _ema_oracle(window: int = 3) -> str:
    """EMA as a DuckDB recursive CTE — same technique as _hw_oracle: the
    SQL replays exponential_moving_average's recurrence in the same
    operation order on identical 6-digit-rounded inputs."""
    W = window
    c = repr(2.0 / (window + 1))
    return f"""
WITH RECURSIVE
pts AS ({_PTS}),
m AS (SELECT DISTINCT name FROM pts WHERE regexp_matches(name, '{_GAP_RX}')),
d AS ({_oracle_final(86400, where=f"sec >= {_GAP_START} AND sec < {NOW}")}),
grid AS (SELECT m.name AS name, g.ts AS ts FROM m
         CROSS JOIN (SELECT CAST(ts AS BIGINT) AS ts
                     FROM generate_series({_GAP_START}, {NOW - 86400}, 86400) t(ts)) g),
s AS (SELECT grid.name AS name, grid.ts AS ts, ROUND(d.value + 1.23e-9, 6) AS value
      FROM grid LEFT JOIN d ON d.name = grid.name AND d.ts = grid.ts),
idx AS (SELECT name, ts, value,
               CAST(row_number() OVER (PARTITION BY name ORDER BY ts) - 1 AS BIGINT) AS i
        FROM s),
rec AS (
  SELECT name, CAST(-1 AS BIGINT) AS i,
         CAST(NULL AS DOUBLE) AS ema,
         CAST(0.0 AS DOUBLE) AS boot_sum, CAST(0 AS BIGINT) AS boot_cnt,
         CAST(NULL AS DOUBLE) AS out
  FROM m
  UNION ALL
  SELECT name, i,
         CASE WHEN i < {W} THEN
                CASE WHEN i = {W} - 1 AND boot_cnt2 > 0 THEN boot_sum2 / boot_cnt2
                     ELSE ema END
              WHEN actual IS NULL THEN ema
              WHEN ema IS NULL THEN actual
              ELSE {c} * actual + (1 - {c}) * ema END,
         boot_sum2, boot_cnt2,
         CASE WHEN i < {W} THEN
                CASE WHEN i = {W} - 1 AND boot_cnt2 > 0 THEN boot_sum2 / boot_cnt2 END
              WHEN actual IS NULL THEN NULL
              WHEN ema IS NULL THEN actual
              ELSE {c} * actual + (1 - {c}) * ema END
  FROM (
    SELECT r.name AS name, x.i AS i, x.value AS actual, r.ema AS ema,
           CASE WHEN x.value IS NULL THEN r.boot_sum ELSE r.boot_sum + x.value END AS boot_sum2,
           r.boot_cnt + CASE WHEN x.value IS NULL THEN 0 ELSE 1 END AS boot_cnt2
    FROM rec r JOIN idx x ON x.name = r.name AND x.i = r.i + 1
  ) g
)
SELECT x.name AS name, x.ts AS ts, ROUND(r.out + 1.23e-9, 6) AS value
FROM rec r JOIN idx x ON x.name = r.name AND x.i = r.i
WHERE r.i >= 0
"""


@_register("gr_ema", _ema_oracle())
def gr_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exponentialMovingAverage(3) over the gapped daily grid — the second
    sequential-recurrence operator, verified by the same recursive-CTE
    oracle technique as gr_holt_winters."""
    _utc(spark)
    from biggraphite_spark.functions.holtwinters import exponential_moving_average

    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.error.u*")
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, _GAP_START, NOW, target=STAGE2)
    dense = dense_series(fetched, metrics, _GAP_START, NOW, 86400).withColumn(
        "value", F.round(F.col("value") + 1.23e-9, 6)
    )
    ema = exponential_moving_average(dense, 3)
    return ema.select(
        "name", "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value")
    )


_BPE_RE_SQL = (
    "''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"
)

_DOC_TOKEN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         regexp_extract_all(text, '{_BPE_RE_SQL}') AS bpe
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(len(bpe) AS DOUBLE) / len(toks), 6) AS tokens_per_word,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(toks, x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
         (a, b) -> (a * 1000003 + b) % 2147483647
       ) AS rolling_fp
FROM t
"""


@_register("doc_token_advanced", _DOC_TOKEN_ORACLE)
def doc_token_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (fertility estimate for token budgeting)
    + order-sensitive rolling-hash fingerprint — both single-pass Column
    expressions inside codegen, no shuffle beyond the join of the two
    single-doc-keyed outputs (planned as one scan per side + broadcast)."""
    _utc(spark)
    from biggraphite_spark.operators.text import bpe_token_count, rolling_fingerprint

    docs = _load_parallel(spark, sf_dir, "documents")
    return bpe_token_count(docs).join(rolling_fingerprint(docs), "doc_id")


def _hw_oracle(season: int = 3) -> str:
    """graphite's holtWintersAnalysis recurrence as a DuckDB recursive CTE.

    The iteration carries (intercept, slope, seasonal/deviation histories,
    next prediction) per series and advances one bucket per recursion step;
    expressions are written in the exact operation order of
    functions/holtwinters.py::_analysis, so on identical (6-digit-rounded)
    inputs both engines produce bit-identical doubles — verified exact at
    sf0.001 before wiring in.  NB: every numeric state column must be cast
    DOUBLE in the base case, else DuckDB types `0.0` as DECIMAL(2,1) and
    silently truncates the whole recurrence."""
    S = season
    return f"""
WITH RECURSIVE
pts AS ({_PTS}),
m AS (SELECT DISTINCT name FROM pts WHERE regexp_matches(name, '{_GAP_RX}')),
d AS ({_oracle_final(86400, where=f"sec >= {_GAP_START} AND sec < {NOW}")}),
grid AS (SELECT m.name AS name, g.ts AS ts FROM m
         CROSS JOIN (SELECT CAST(ts AS BIGINT) AS ts
                     FROM generate_series({_GAP_START}, {NOW - 86400}, 86400) t(ts)) g),
s AS (SELECT grid.name AS name, grid.ts AS ts, ROUND(d.value + 1.23e-9, 6) AS value
      FROM grid LEFT JOIN d ON d.name = grid.name AND d.ts = grid.ts),
idx AS (SELECT name, ts, value,
               CAST(row_number() OVER (PARTITION BY name ORDER BY ts) - 1 AS BIGINT) AS i
        FROM s),
rec AS (
  SELECT name, CAST(-1 AS BIGINT) AS i,
         CAST(NULL AS DOUBLE) AS icept, CAST(0.0 AS DOUBLE) AS slope,
         CAST([] AS DOUBLE[]) AS seas, CAST([] AS DOUBLE[]) AS devs,
         CAST(NULL AS DOUBLE) AS next_pred,
         CAST(NULL AS DOUBLE) AS prediction, CAST(NULL AS DOUBLE) AS deviation
  FROM m
  UNION ALL
  SELECT name, i,
         CASE WHEN actual IS NULL THEN NULL ELSE icept_new END,
         CASE WHEN actual IS NULL THEN CAST(0.0 AS DOUBLE) ELSE slope_new END,
         list_append(seas, CASE WHEN actual IS NULL THEN 0.0 ELSE seasonal_new END),
         list_append(devs, CASE WHEN actual IS NULL THEN 0.0 ELSE deviation_new END),
         CASE WHEN actual IS NULL THEN NULL
              ELSE icept_new + slope_new +
                   (CASE WHEN i + 1 >= {S}
                         THEN list_append(seas, seasonal_new)[i + 2 - {S}] ELSE 0.0 END) END,
         prediction_new,
         CASE WHEN actual IS NULL THEN 0.0 ELSE deviation_new END
  FROM (
    SELECT h.*,
           0.0035 * (icept_new - last_icept) + (1 - 0.0035) * last_slope AS slope_new,
           0.1 * (actual - icept_new) + (1 - 0.1) * seasonal_now AS seasonal_new,
           0.1 * abs(actual - COALESCE(prediction_new, 0.0)) + (1 - 0.1) * seasonal_dev AS deviation_new
    FROM (
      SELECT g.*,
             0.1 * (actual - seasonal_now) + (1 - 0.1) * (last_icept + last_slope) AS icept_new
      FROM (
        SELECT r.name AS name, x.i AS i, x.value AS actual,
               r.seas AS seas, r.devs AS devs,
               CASE WHEN x.i = 0 THEN x.value ELSE COALESCE(r.icept, x.value) END AS last_icept,
               CASE WHEN x.i = 0 THEN CAST(0.0 AS DOUBLE) ELSE r.slope END AS last_slope,
               CASE WHEN x.i >= {S} THEN r.seas[x.i - {S} + 1] ELSE 0.0 END AS seasonal_now,
               CASE WHEN x.i >= {S} THEN r.devs[x.i - {S} + 1] ELSE 0.0 END AS seasonal_dev,
               CASE WHEN x.i = 0 THEN x.value ELSE r.next_pred END AS prediction_new
        FROM rec r JOIN idx x ON x.name = r.name AND x.i = r.i + 1
      ) g
    ) h
  ) z
)
SELECT x.name AS name, x.ts AS ts, ROUND(x.value, 6) AS value,
       ROUND(r.prediction + 1.23e-9, 6) AS forecast,
       ROUND(r.prediction + 3.0 * r.deviation + 1.23e-9, 6) AS upper,
       ROUND(r.prediction - 3.0 * r.deviation + 1.23e-9, 6) AS lower,
       ROUND(CASE WHEN x.value IS NOT NULL AND r.prediction IS NOT NULL
                       AND x.value > r.prediction + 3.0 * r.deviation
                  THEN x.value - (r.prediction + 3.0 * r.deviation)
                  WHEN x.value IS NOT NULL AND r.prediction IS NOT NULL
                       AND x.value < r.prediction - 3.0 * r.deviation
                  THEN x.value - (r.prediction - 3.0 * r.deviation)
                  ELSE 0.0 END + 1.23e-9, 6) AS aberration
FROM rec r JOIN idx x ON x.name = r.name AND x.i = r.i
WHERE r.i >= 0
"""


@_register("gr_holt_winters", _hw_oracle())
def gr_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """holtWintersForecast + ConfidenceBands + Aberration over the daily
    grid — graphite's anomaly-band family.  The per-series recurrence
    (every bucket depends on the previous bucket AND the same bucket one
    season ago) is the designed applyInPandas escape hatch; the DuckDB
    oracle replays the same recurrence as a recursive CTE (see _hw_oracle)
    so the family is independently verified, not self-golden.  Inputs are
    rounded to 6 digits on both sides so the recurrences start from
    identical doubles; outputs rounded likewise."""
    _utc(spark)
    from biggraphite_spark.functions.holtwinters import holt_winters

    catalog = load_catalog(spark, sf_dir)
    metrics = find_metrics(catalog, "bg.error.u*")
    fetched = fetch_points(_stage1(spark, sf_dir), metrics, _GAP_START, NOW, target=STAGE2)
    dense = dense_series(fetched, metrics, _GAP_START, NOW, 86400).withColumn(
        "value", F.round(F.col("value") + 1.23e-9, 6)
    )
    hw = holt_winters(dense, step=86400, season_length=3)
    return hw.select(
        "name", "ts", "value",
        F.round(F.col("forecast") + 1.23e-9, 6).alias("forecast"),
        F.round(F.col("upper") + 1.23e-9, 6).alias("upper"),
        F.round(F.col("lower") + 1.23e-9, 6).alias("lower"),
        F.round(F.col("aberration") + 1.23e-9, 6).alias("aberration"),
    )


# ---------------------------------------------------------------------------
# Corpus curation family (operators/curation.py)
# ---------------------------------------------------------------------------

_CHUNK = 8  # span size (tokens) for boilerplate chunk dedup

_CHUNK_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
spans AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(ceil(len(toks) / {_CHUNK}.0) AS INT) - 1))
           AS chunk_id,
         toks
  FROM t),
s2 AS (
  SELECT doc_id, chunk_id,
         array_to_string(
           list_slice(toks, chunk_id * {_CHUNK} + 1, chunk_id * {_CHUNK} + {_CHUNK}),
           ' ') AS chunk_text
  FROM spans),
freq AS (SELECT md5(chunk_text) AS h, count(DISTINCT doc_id) AS doc_freq
         FROM s2 GROUP BY 1),
k AS (SELECT s2.doc_id, s2.chunk_id, s2.chunk_text, f.doc_freq <= 1 AS keep
      FROM s2 JOIN freq f ON md5(s2.chunk_text) = f.h)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN chunk_text END, ' '
                           ORDER BY chunk_id), '') AS cleaned_text
FROM k GROUP BY doc_id
"""


@_register("doc_chunk_dedup", _CHUNK_DEDUP_ORACLE)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal by corpus-frequency span dedup (CCNet paragraph
    dedup): drop every 8-token span that appears in more than one document,
    reassemble the survivors in order."""
    _utc(spark)
    from biggraphite_spark.operators.curation import chunk_dedup

    return chunk_dedup(
        _load_parallel(spark, sf_dir, "documents"), chunk=_CHUNK, max_doc_freq=1
    )


_CONTAM_N = 5  # shingle width for decontamination
_BENCH_MOD = 20  # every 20th doc plays the held-out benchmark set

_CONTAM_GRAMS = f"""
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= {_CONTAM_N}
                     THEN list_distinct(list_transform(
                            generate_series(1, len(toks) - {_CONTAM_N - 1}),
                            i -> array_to_string(
                                   list_slice(toks, i, i + {_CONTAM_N - 1}), ' ')))
                     ELSE [array_to_string(toks, ' ')] END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""

_CONTAM_ORACLE = f"""
WITH g AS ({_CONTAM_GRAMS}),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
j AS (SELECT g.doc_id, CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM g LEFT JOIN b ON g.gram = b.gram)
SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_overlap,
       sum(hit) >= 1 AS contaminated
FROM j GROUP BY doc_id
"""


@_register("doc_contamination", _CONTAM_ORACLE)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc distinct 5-gram overlap against a
    held-out eval slice (every 20th doc), broadcast semi-join — the GPT-3
    appendix-C contamination check at scan speed."""
    _utc(spark)
    from biggraphite_spark.operators.curation import contamination

    docs = _load_parallel(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    return contamination(docs, benchmark, n=_CONTAM_N, min_overlap=1)


_PPL_ORACLE = """
WITH p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
v AS (SELECT tok, count(*) AS c FROM p GROUP BY tok),
tt AS (SELECT sum(c) AS total FROM v)
SELECT doc_id, count(*) AS n_tokens,
       ROUND(avg(-log2(c / total)), 6) AS cross_entropy,
       ROUND(pow(2.0, avg(-log2(c / total))), 6) AS perplexity
FROM p JOIN v USING (tok), tt
GROUP BY doc_id
"""


@_register("doc_perplexity", _PPL_ORACLE)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy / perplexity per document (CCNet's quality
    signal with the corpus itself as the LM): vocabulary-sized count
    relation broadcast back onto the postings."""
    _utc(spark)
    from biggraphite_spark.operators.curation import unigram_logprob

    return unigram_logprob(_load_parallel(spark, sf_dir, "documents"))


_MIX_ALPHA = 0.3
_MIX_BUDGET = 1_000_000

_MIX_ORACLE = f"""
WITH per AS (SELECT source, count(*) AS n_docs,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY source),
s AS (SELECT *, pow(n_tokens, {_MIX_ALPHA}) AS w_raw FROM per),
z AS (SELECT sum(w_raw) AS z FROM s)
SELECT source, n_docs, n_tokens,
       ROUND(w_raw / z, 6) AS weight,
       ROUND({_MIX_BUDGET} * (w_raw / z) / n_tokens, 6) AS effective_epochs
FROM s, z
"""


@_register("doc_mix_weights", _MIX_ORACLE)
def doc_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (p_i ∝ n_i^0.3, the
    XLM-R/mT5 sampling rule) + effective epochs at a 1M-token budget."""
    _utc(spark)
    from biggraphite_spark.operators.curation import mix_weights

    return mix_weights(
        _load_parallel(spark, sf_dir, "documents"),
        alpha=_MIX_ALPHA,
        token_budget=_MIX_BUDGET,
    )


_SUB_K = 5  # anchor gram width
_SUB_MIN_RUN = 8  # report pairs sharing a run of >= 8 consecutive tokens
_SUB_CAP = 50  # drop grams present in more than this many docs

_SUBSTR_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
a AS (SELECT doc_id,
             unnest(generate_series(1, greatest(len(toks) - {_SUB_K - 1}, 1)))
               AS pos,
             toks
      FROM t),
an AS (SELECT doc_id, pos,
              md5(array_to_string(list_slice(toks, pos, pos + {_SUB_K - 1}), ' '))
                AS h
       FROM a),
gdf AS (SELECT h, count(DISTINCT doc_id) AS gdf FROM an GROUP BY h),
pr AS (SELECT an.* FROM an JOIN gdf ON an.h = gdf.h AND gdf.gdf <= {_SUB_CAP}),
m AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.pos AS pos_a, x.pos - y.pos AS delta
      FROM pr x JOIN pr y ON x.h = y.h AND x.doc_id < y.doc_id),
i AS (SELECT *, pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, delta
                                           ORDER BY pos_a) AS island
      FROM m),
r AS (SELECT doc_a, doc_b, delta, island,
             count(*) + {_SUB_K - 1} AS run_tokens, count(*) AS n_anchor
      FROM i GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, max(run_tokens) AS longest_run,
       CAST(sum(n_anchor) AS BIGINT) AS n_anchors
FROM r GROUP BY doc_a, doc_b HAVING max(run_tokens) >= {_SUB_MIN_RUN}
"""


@_register("doc_substring_dup", _SUBSTR_ORACLE)
def doc_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact-substring detection (Lee et al. 2022) via k-gram
    anchors at constant position delta — longest common token run >= 8
    between document pairs, df-capped anchor join."""
    _utc(spark)
    from biggraphite_spark.operators.curation import substring_runs

    return substring_runs(
        _load_parallel(spark, sf_dir, "documents"),
        k=_SUB_K,
        min_run_tokens=_SUB_MIN_RUN,
        max_gram_doc_freq=_SUB_CAP,
    )


_KM_K = 8
_KM_ITERS = 3
_KM_DIM = 64


def _kmeans_oracle(k: int = _KM_K, iters: int = _KM_ITERS, dim: int = _KM_DIM) -> str:
    """Unrolled Lloyd iterations: each round re-derives assignments from the
    previous round's ROUNDED centroids, exactly like the engine (sequential
    list_sum distance fold, round-6 before argmin, lowest-index tie-break,
    empty cluster keeps prior centroid via left join + coalesce)."""
    dist = (
        f"ROUND(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (v[i] - cv[i]) * (v[i] - cv[i]))), 6)"
    )

    def assign(src: str, cents: str) -> str:
        return f"""(
  SELECT vec_id, v, cidx, d FROM (
    SELECT e.vec_id, e.v, c.cidx, {dist} AS d,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.cidx) AS rn
    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1)"""

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))""",
    ]
    for i in range(iters):
        ctes.append(f"a{i + 1} AS {assign('e', f'c{i}')}")
        ctes.append(
            f"""m{i + 1} AS (
  SELECT cidx, list(mv ORDER BY pos) AS cv FROM (
    SELECT cidx, pos, ROUND(avg(val), 6) AS mv FROM (
      SELECT cidx, generate_subscripts(v, 1) AS pos, unnest(v) AS val
      FROM a{i + 1})
    GROUP BY cidx, pos)
  GROUP BY cidx)"""
        )
        ctes.append(
            f"""c{i + 1} AS (
  SELECT c.cidx, COALESCE(m.cv, c.cv) AS cv
  FROM c{i} c LEFT JOIN m{i + 1} m USING (cidx))"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
fin AS {assign("e", f"c{iters}")}
SELECT vec_id, cidx AS cluster, d AS dist FROM fin
"""


_SEMD_T = 0.95


def _semdedup_oracle(threshold: float = _SEMD_T) -> str:
    """SemDeDup on top of the unrolled k-means chain: within-cluster pairs
    (lower id side b), rounded cosine >= threshold drops the higher id."""
    base = _kmeans_oracle().rsplit("SELECT vec_id", 1)[0]
    cos = (
        f"ROUND(list_sum(list_transform(generate_series(1, {_KM_DIM}), "
        "i -> a.v[i] * b.v[i])) / "
        f"(sqrt(list_sum(list_transform(a.v, x -> x * x))) * "
        "sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5)"
    )
    return f"""{base.rstrip()},
dropped AS (
  SELECT DISTINCT a.vec_id FROM fin a JOIN fin b
    ON a.cidx = b.cidx AND b.vec_id < a.vec_id
  WHERE {cos} >= {threshold})
SELECT f.vec_id, f.cidx AS cluster, d.vec_id IS NULL AS keep
FROM fin f LEFT JOIN dropped d ON f.vec_id = d.vec_id
"""


@_register("emb_semdedup", _semdedup_oracle())
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cells bound the pair join;
    inside each cell the lowest id of every >=0.95-cosine group survives.
    The within-cell join is the only quadratic stage — cells keep it
    controlled, which is the algorithm's entire scale story."""
    _utc(spark)
    from biggraphite_spark.operators.clustering import semantic_dedup

    return semantic_dedup(
        _load_parallel(spark, sf_dir, "embeddings"),
        k=_KM_K,
        iters=_KM_ITERS,
        threshold=_SEMD_T,
    )


@_register("emb_kmeans", _kmeans_oracle())
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means refinement loop (k=8, 3 iterations) over the
    embedding corpus: broadcast-centroid assignment scans + per-(cluster,
    dim) mean reductions, nothing corpus-sized shuffled or collected —
    the MLlib training shape, replayed bit-exactly by an unrolled DuckDB
    CTE chain."""
    _utc(spark)
    from biggraphite_spark.operators.clustering import kmeans

    return kmeans(
        _load_parallel(spark, sf_dir, "embeddings"), k=_KM_K, iters=_KM_ITERS
    )


def _curate_oracle() -> str:
    """Composed decision table: each stage's oracle fragment (quality gate,
    content-hash window dedup, broadcast decontamination, md5-threshold
    sampling) joined on doc_id — the per-stage semantics are bit-identical
    to their standalone queries by construction."""
    from biggraphite_spark.operators.sampling import (
        DEFAULT_RATES,
        rate_to_hex_threshold,
    )
    from biggraphite_spark.operators.text import STOPWORDS

    stops = _sql_word_list(STOPWORDS)
    sample_cond = " OR ".join(
        f"(lang = '{lang}' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
        f" < '{rate_to_hex_threshold(rate)}')"
        for lang, rate in DEFAULT_RATES.items()
    )
    return f"""
WITH t AS (SELECT doc_id, text, lang, string_split(text, ' ') AS toks FROM documents),
q AS (SELECT doc_id,
        (len(toks) >= 20 AND len(toks) <= 100000
         AND (length(text) - (len(toks) - 1)) * 1.0 / len(toks) >= 3.0
         AND (length(text) - (len(toks) - 1)) * 1.0 / len(toks) <= 10.0
         AND list_max(list_transform(toks, t -> length(t))) <= 20
         AND len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) * 1.0
             / len(toks) >= 0.8
         AND len(list_filter(toks, t -> t IN ({stops}))) >= 2) AS passed_quality
      FROM t),
d AS (SELECT doc_id,
        doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
      FROM documents),
g AS ({_CONTAM_GRAMS}),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
c AS (SELECT g.doc_id,
        sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS contaminated
      FROM g LEFT JOIN b ON g.gram = b.gram GROUP BY g.doc_id),
smp AS (SELECT doc_id, ({sample_cond}) AS sampled FROM documents)
SELECT q.doc_id, q.passed_quality, d.is_exact_dup, c.contaminated, smp.sampled,
       (q.passed_quality AND NOT d.is_exact_dup AND NOT c.contaminated
        AND smp.sampled) AS keep
FROM q JOIN d ON q.doc_id = d.doc_id
       JOIN c ON q.doc_id = c.doc_id
       JOIN smp ON q.doc_id = smp.doc_id
"""


@_register("doc_curate", _curate_oracle())
def doc_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation decision table: Gopher quality gate + exact
    dedup (content-hash window) + benchmark decontamination (broadcast)
    + deterministic stratified sampling, one boolean per stage and the
    final keep conjunction — the audit artifact a pipeline reads before
    committing to a cut."""
    _utc(spark)
    from biggraphite_spark.operators.curation import curate

    docs = _load_parallel(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    return curate(docs, benchmark, contam_n=_CONTAM_N)


_ASOF_ORACLE = f"""
WITH e AS (SELECT user_id, event_id, {ORACLE_TS} AS sec, value, event_type
           FROM events),
l AS (SELECT user_id, event_id, sec, value FROM e WHERE event_type = 'error'),
r AS (SELECT user_id, sec, max(value) AS rvalue
      FROM e WHERE event_type = 'signup' GROUP BY 1, 2)
SELECT l.user_id, l.event_id, l.sec, ROUND(l.value, 4) AS value,
       r.sec AS signup_sec, ROUND(r.rvalue, 4) AS signup_value,
       l.sec - r.sec AS gap_sec
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.sec >= r.sec
"""


@_register("events_asof_join", _ASOF_ORACLE)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference temporal join): every error event
    gains the user's most recent at-or-before signup event.  The engine
    spelling is the linear union+window carry-forward of
    :func:`biggraphite_spark.operators.joins.asof_join` — one shuffle on
    user_id, no inequality join; the oracle is DuckDB's native ASOF LEFT
    JOIN, a fully independent implementation of the same semantics."""
    _utc(spark)
    from biggraphite_spark.operators.joins import asof_join
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id", "event_id", event_ts_seconds(ev).alias("sec"), "value", "event_type"
    )
    left = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "sec", "value"
    )
    right = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "sec")
        .agg(F.max("value").alias("rvalue"))
    )
    out = asof_join(left, right, on=["user_id"], left_ts="sec", right_ts="sec",
                    suffix="_r")
    return out.select(
        "user_id",
        "event_id",
        "sec",
        F.round("value", 4).alias("value"),
        F.col("sec_r").alias("signup_sec"),
        F.round("rvalue_r", 4).alias("signup_value"),
        (F.col("sec") - F.col("sec_r")).alias("gap_sec"),
    )


_RANGE_JOIN_ORACLE = f"""
WITH e AS (SELECT event_id, event_type, {ORACLE_TS} AS sec, value FROM events),
iv AS (SELECT event_id AS window_id, sec - 300 AS start_sec, sec + 300 AS end_sec
       FROM e WHERE event_type = 'error' AND event_id % 20 = 0)
SELECT iv.window_id, iv.start_sec, iv.end_sec,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(p.value), 4) AS sum_value
FROM iv JOIN e p ON p.sec BETWEEN iv.start_sec AND iv.end_sec
GROUP BY 1, 2, 3
"""


@_register("events_range_join", _RANGE_JOIN_ORACLE)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (beyond-reference interval join): count/sum the events
    inside each +-5-minute incident window around sampled error events.
    The engine buckets time so the non-equi containment becomes an
    equi-join (:func:`biggraphite_spark.operators.joins.range_join`); the
    oracle is DuckDB's plain inequality join over the same windows."""
    _utc(spark)
    from biggraphite_spark.operators.joins import range_join
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "event_id", "event_type", event_ts_seconds(ev).alias("sec"), "value"
    )
    iv = e.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 20 == 0)
    ).select(
        F.col("event_id").alias("window_id"),
        (F.col("sec") - 300).alias("start_sec"),
        (F.col("sec") + 300).alias("end_sec"),
    )
    pts = e.select("sec", "value")
    return (
        range_join(pts, iv, point_ts="sec", start="start_sec", end="end_sec",
                   bucket=600)
        .groupBy("window_id", "start_sec", "end_sec")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_KMV_K = 32

_KMV_ORACLE = f"""
WITH h AS (SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
           AS hv
       FROM events),
r AS (SELECT event_type, hv,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY hv) AS BIGINT)
          AS rn
      FROM h)
SELECT event_type,
  COALESCE(max(CASE WHEN rn = {_KMV_K} THEN hv END), -1) AS kth_hash,
  ROUND(CASE WHEN max(rn) < {_KMV_K} THEN CAST(max(rn) AS DOUBLE)
        ELSE {float(_KMV_K - 1)} /
             (max(CASE WHEN rn = {_KMV_K} THEN hv END) / 4294967296.0)
        END, 4) AS est_distinct
FROM r WHERE rn <= {_KMV_K}
GROUP BY 1
"""


@_register("events_distinct_kmv", _KMV_ORACLE)
def events_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (beyond-reference): per-event-type
    distinct-user estimate from the k=32 minimum md5 hashes.  Unlike
    HyperLogLog, the synopsis is engine-portable, so the ESTIMATE itself
    is oracle-checked bit-for-bit, not just smoke-tested."""
    _utc(spark)
    from biggraphite_spark.operators.sketches import kmv_distinct
    from biggraphite_spark.sources.events import load_events

    ev = load_events(spark, sf_dir)
    return kmv_distinct(
        ev.select("event_type", "user_id"), "user_id", ("event_type",), k=_KMV_K
    )


_CM_ORACLE = f"""
WITH it AS (SELECT CAST(user_id AS VARCHAR) AS user_key,
         CAST(count(*) AS BIGINT) AS exact_count
       FROM events GROUP BY 1),
d AS (SELECT unnest(range(4)) AS dd),
cells AS (
  SELECT dd,
    CAST(concat('0x', substr(md5(concat(CAST(dd AS VARCHAR), ':',
                                        CAST(user_id AS VARCHAR))), 1, 8))
         AS BIGINT) % 256 AS bb,
    CAST(count(*) AS BIGINT) AS cell
  FROM events, d GROUP BY 1, 2
),
probe AS (
  SELECT it.user_key, it.exact_count, dd,
    CAST(concat('0x', substr(md5(concat(CAST(dd AS VARCHAR), ':', it.user_key)),
                             1, 8)) AS BIGINT) % 256 AS bb
  FROM it, d
)
SELECT probe.user_key, min(cells.cell) AS cm_estimate,
       probe.exact_count
FROM probe JOIN cells USING (dd, bb)
GROUP BY probe.user_key, probe.exact_count
"""


@_register("events_heavy_hitters", _CM_ORACLE)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter sketch (beyond-reference): per-user event
    counts estimated from a 4x256 md5-hashed counter grid, exact count
    alongside so the overestimate bias is visible.  The raw data feeds
    only the metadata-sized cell aggregation; the probe runs over
    distinct items — the 100 TB shape.  Deterministic hashing makes the
    DuckDB oracle replay the estimates exactly."""
    _utc(spark)
    from biggraphite_spark.operators.sketches import cm_heavy_hitters
    from biggraphite_spark.sources.events import load_events

    ev = load_events(spark, sf_dir)
    return cm_heavy_hitters(
        ev.select(F.col("user_id").cast("string").alias("user_key")),
        "user_key",
        depth=4,
        width=256,
    )


_GR_RATE_ORACLE = f"""
WITH {_series_cte("bg.*.*")},
p AS (SELECT name, ts, value FROM s WHERE name LIKE 'bg.purchase.%')
SELECT 'nnder' AS func, name, ts,
       ROUND(CASE WHEN value - lag(value) OVER w >= 0
                  THEN value - lag(value) OVER w END, 6) AS value
FROM p WINDOW w AS (PARTITION BY name ORDER BY ts)
UNION ALL
SELECT 'persec', name, ts,
       ROUND(CASE WHEN value - lag(value) OVER w2 >= 0
                  THEN (value - lag(value) OVER w2) / 3600.0 END, 6)
FROM p WINDOW w2 AS (PARTITION BY name ORDER BY ts)
UNION ALL
SELECT 'shift1d', name, ts + 86400, ROUND(value, 6) FROM p
UNION ALL
SELECT 'diff', 'diff', ts,
       ROUND(COALESCE(sum(CASE WHEN name LIKE 'bg.purchase.%' THEN value END), 0)
             - COALESCE(sum(CASE WHEN name LIKE 'bg.error.%' THEN value END), 0), 6)
FROM s WHERE name LIKE 'bg.purchase.%' OR name LIKE 'bg.error.%'
GROUP BY ts
"""


@_register("gr_rate_shift", _GR_RATE_ORACLE)
def gr_rate_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter family: nonNegativeDerivative + perSecond + timeShift(1d) +
    diffSeries(purchase, error) over hourly finals — graphite's rate/overlay
    render verbs (render/functions.py nonNegativeDerivative/perSecond/
    timeShift/diffSeries).  The rate branches share one (name)-hash exchange
    over the cached input; diffSeries is two bucket-combines full-outer
    joined on ts — at scale each side is a map-side partial aggregation."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        diff_series,
        grep_series,
        non_negative_derivative,
        per_second,
        time_shift,
    )

    s = _hourly_finals(spark, sf_dir, "bg.*.*").cache()
    s.count()  # materialize before the branches fan out (see gr_series_combine)
    s_p = grep_series(s, r"^bg\.purchase\.")
    s_e = grep_series(s, r"^bg\.error\.")
    rounded = F.round("value", 6).alias("value")
    parts = [
        (non_negative_derivative(s_p), "nnder"),
        (per_second(s_p, 3600), "persec"),
        (time_shift(s_p, 86400), "shift1d"),
        (diff_series(s_p, s_e).select(F.lit("diff").alias("name"), "ts", "value"), "diff"),
    ]
    out = None
    for df, func in parts:
        branch = df.select(F.lit(func).alias("func"), "name", "ts", rounded)
        out = branch if out is None else out.unionAll(branch)
    return out


_GR_SELECT_ORACLE = f"""
WITH {_series_cte("bg.error.u1*")},
st AS (SELECT name, avg(value) AS a, max(value) AS mx, min(value) AS mn FROM s GROUP BY name),
cut AS (SELECT name, quantile_cont(value, 0.5) AS c FROM s GROUP BY name)
SELECT 'grep' AS func, name, ts, ROUND(value, 6) AS value
FROM s WHERE regexp_matches(name, 'u1[02468]$')
UNION ALL
SELECT 'clamp', name, ts, ROUND(CASE WHEN value >= 2 AND value <= 50 THEN value END, 6) FROM s
UNION ALL
SELECT 'sqrt', name, ts, ROUND(CASE WHEN value >= 0 THEN sqrt(value) END, 6) FROM s
UNION ALL
SELECT 'pow2', name, ts, ROUND(pow(value, 2), 6) FROM s
UNION ALL
SELECT 'inv', name, ts, ROUND(CASE WHEN value != 0 THEN 1.0 / value END, 6) FROM s
UNION ALL
SELECT 'aspct', name, ts,
       ROUND(CASE WHEN sum(value) OVER (PARTITION BY ts) != 0
                  THEN value / sum(value) OVER (PARTITION BY ts) * 100.0 END, 6)
FROM s
UNION ALL
SELECT 'rmbelow', s.name, ts, ROUND(CASE WHEN value >= c THEN value END, 6)
FROM s JOIN cut ON s.name = cut.name
UNION ALL
SELECT 'avgbelow', name, ts, ROUND(value, 6) FROM s
WHERE name IN (SELECT name FROM st WHERE a < 46.0)
UNION ALL
SELECT 'maxabove', name, ts, ROUND(value, 6) FROM s
WHERE name IN (SELECT name FROM st WHERE mx > 80.0)
UNION ALL
SELECT 'minbelow', name, ts, ROUND(value, 6) FROM s
WHERE name IN (SELECT name FROM st WHERE mn < 9.0)
"""


@_register("gr_select_transform", _GR_SELECT_ORACLE)
def gr_select_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection + transform render verbs: grep + removeBelowValue/
    removeAboveValue (clamp) + squareRoot + pow + invert + asPercent +
    removeBelowPercentile(50) + averageBelow/maximumAbove/minimumBelow
    (render/functions.py).  The stat filters are broadcast semi-joins of a
    per-series aggregate back onto the series — the catalog-sized side is
    always the broadcast one at scale; the value transforms are pure
    projections that stay inside one codegen stage."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        as_percent,
        average_below,
        clamp,
        grep_series,
        invert,
        maximum_above,
        minimum_below,
        pow_series,
        remove_below_percentile,
        square_root,
    )

    s = _hourly_finals(spark, sf_dir, "bg.error.u1*").cache()
    s.count()  # materialize before the branches fan out (see gr_series_combine)
    rounded = F.round("value", 6).alias("value")
    parts = [
        (grep_series(s, "u1[02468]$"), "grep"),
        (clamp(s, 2.0, 50.0), "clamp"),
        (square_root(s), "sqrt"),
        (pow_series(s, 2.0), "pow2"),
        (invert(s), "inv"),
        (as_percent(s), "aspct"),
        (remove_below_percentile(s, 50), "rmbelow"),
        (average_below(s, 46.0), "avgbelow"),
        (maximum_above(s, 80.0), "maxabove"),
        (minimum_below(s, 9.0), "minbelow"),
    ]
    out = None
    for df, func in parts:
        branch = df.select(F.lit(func).alias("func"), "name", "ts", rounded)
        out = branch if out is None else out.unionAll(branch)
    return out


_GR_SORT_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")},
tot AS (SELECT name, ROUND(sum(value), 6) AS stat FROM s GROUP BY name),
mx AS (SELECT name, ROUND(max(value), 6) AS stat FROM s GROUP BY name),
vr AS (SELECT name, ROUND(var_pop(value), 6) AS stat FROM s GROUP BY name),
rtot AS (SELECT name, stat, row_number() OVER (ORDER BY stat DESC NULLS LAST, name ASC) AS rank FROM tot),
rmx AS (SELECT name, stat, row_number() OVER (ORDER BY stat DESC NULLS LAST, name ASC) AS rank FROM mx),
rvr AS (SELECT name, stat, row_number() OVER (ORDER BY stat DESC NULLS LAST, name ASC) AS rank FROM vr),
first3 AS (SELECT name FROM (SELECT DISTINCT name FROM s) ORDER BY name LIMIT 3)
SELECT 'bytotal' AS func, s.name, ts, ROUND(value, 6) AS value, stat, rank
FROM s JOIN rtot ON s.name = rtot.name
UNION ALL
SELECT 'bymax', s.name, ts, ROUND(value, 6), stat, rank
FROM s JOIN rmx ON s.name = rmx.name
UNION ALL
SELECT 'deviant', s.name, ts, ROUND(value, 6), stat, rank
FROM s JOIN rvr ON s.name = rvr.name WHERE rank <= 5
UNION ALL
SELECT 'limit3', name, ts, ROUND(value, 6),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
FROM s WHERE name IN (SELECT name FROM first3)
UNION ALL
SELECT 'aliassub', regexp_replace(name, '^bg\\.purchase\\.(u\\d+)$', '\\1.purchase'),
       ts, ROUND(value, 6), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
FROM s
"""


@_register("gr_sort_limit", _GR_SORT_ORACLE)
def gr_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering/truncation render verbs: sortByTotal + sortByMaxima +
    mostDeviant(5) + limit(3) + aliasSub + a final sortByName
    (render/functions.py).  Rank columns carry the sort order (rounded
    stats, name tie-break) so the contract is deterministic; each ranking
    is a series-count-sized aggregate broadcast back onto the points —
    the single-partition row_number window only ever sees one row per
    series, never the point data."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        alias_sub,
        limit_series,
        most_deviant,
        sort_by_maxima,
        sort_by_name,
        sort_by_total,
    )

    s = _hourly_finals(spark, sf_dir, "bg.purchase.*").cache()
    s.count()  # materialize before the branches fan out (see gr_series_combine)
    nulls = [F.lit(None).cast("double").alias("stat"), F.lit(None).cast("long").alias("rank")]
    rounded = F.round("value", 6).alias("value")
    parts = [
        (sort_by_total(s).select("name", "ts", rounded, "stat", "rank"), "bytotal"),
        (sort_by_maxima(s).select("name", "ts", rounded, "stat", "rank"), "bymax"),
        (most_deviant(s, 5).select("name", "ts", rounded, "stat", "rank"), "deviant"),
        (limit_series(s, 3).select("name", "ts", rounded, *nulls), "limit3"),
        (
            alias_sub(s, r"^bg\.purchase\.(u\d+)$", "$1.purchase")
            .select("name", "ts", rounded, *nulls),
            "aliassub",
        ),
    ]
    out = None
    for df, func in parts:
        branch = df.select(F.lit(func).alias("func"), *df.columns)
        out = branch if out is None else out.unionAll(branch)
    return sort_by_name(out)


_LSH_RECALL_ORACLE = f"""
WITH e AS ({_NGRAM_ORACLE}),
l AS ({_minhash_oracle()}),
j AS (SELECT e.doc_a AS ea, l.doc_a AS la
      FROM e FULL JOIN l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b),
c AS (SELECT CAST(count(ea) AS BIGINT) AS n_exact,
             CAST(count(la) AS BIGINT) AS n_lsh,
             CAST(sum(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_common
      FROM j)
SELECT n_exact, n_lsh, n_common,
       ROUND(n_common * 1.0 / n_exact, 6) AS lsh_recall,
       ROUND(n_common * 1.0 / n_lsh, 6) AS lsh_precision
FROM c
"""


@_register(
    "doc_lsh_recall",
    _LSH_RECALL_ORACLE,
    scale_domain={
        "max_sf": 1,
        "reason": "contains the exact quadratic Jaccard baseline by "
        "definition (recall denominator); recall is measured at "
        "sf0.01/sf0.1/sf1",
    },
)
def doc_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality evaluation of the LSH scale path against its exact baseline:
    recall/precision of MinHash(16)+LSH(4x4)-verified pairs vs exact
    n-gram-Jaccard pairs at the same 0.5 threshold.  The number a pipeline
    owner needs before swapping the quadratic exact pass for the banded
    one — and the contract pins BOTH engines to the same candidate algebra
    end to end.  Verified candidates are a subset of the exact pairs by
    construction, so precision is 1.0 and recall is the banding loss."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import lsh_near_dups, ngram_jaccard_pairs

    docs = _load_parallel(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    lsh = lsh_near_dups(docs, threshold=0.5).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    j = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    counts = j.agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_lsh").cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_common"),
    )
    return counts.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.round(F.col("n_common") / F.col("n_exact"), 6).alias("lsh_recall"),
        F.round(F.col("n_common") / F.col("n_lsh"), 6).alias("lsh_precision"),
    )


def _ann_recall_oracle(k: int = 5) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 5),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 5) AS sim
  FROM n c, q WHERE c.vec_id != q.vec_id
),
x AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, row_number() OVER w AS rk
    FROM sims WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
  ) WHERE rk <= {k}
),
a AS ({_ann_ivf_oracle(nprobe=2, k=k)}),
c AS (SELECT x.query_id, count(*) AS n_common
      FROM x JOIN a ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
      GROUP BY 1),
t AS (SELECT query_id, count(*) AS n_exact FROM x GROUP BY 1)
SELECT t.query_id, CAST(t.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(c.n_common, 0) * 1.0 / t.n_exact, 6) AS recall_at_k
FROM t LEFT JOIN c ON t.query_id = c.query_id
"""


@_register("emb_ann_recall", _ann_recall_oracle())
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the IVF index (nprobe=2) against brute-force
    cosine top-5 — the accuracy/cost dial every ANN deployment tunes
    (recall lost to unprobed cells vs corpus fraction scanned).  Both
    rankings are deterministic (rounded sims, id tie-break), so the recall
    itself is an exact, oracle-checkable quantity."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import ann_ivf_topk, cosine_topk

    emb = _load_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(emb, q, nprobe=2, k=5).select("query_id", "neighbor_id")
    common = (
        exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    totals = exact.groupBy("query_id").agg(F.count("*").cast("long").alias("n_exact"))
    return totals.join(common, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.round(F.coalesce("n_common", F.lit(0)) / F.col("n_exact"), 6).alias("recall_at_k"),
    )


_SIMHASH_PAIRS_ORACLE = f"""
WITH s AS ({_simhash_oracle()}),
b AS (SELECT doc_id, simhash, bb, (simhash >> (bb * 8)) & 255 AS key
      FROM s, (SELECT unnest([0, 1]) AS bb)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
                         b2.doc_id AS doc_b, b2.simhash AS sb
         FROM b a JOIN b b2
           ON a.bb = b2.bb AND a.key = b2.key AND a.doc_id < b2.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 1
"""


def _simhash64_oracle() -> str:
    """64-bit simhash: bits 0..31 from md5(token), 32..63 from the salted
    md5('1:' || token); bit 63's weight is -2^63 (two's complement — the
    Spark builder adds the same terms in the same ascending order, so both
    BIGINT chains stay in range)."""

    def _src(i: int) -> str:
        return (
            f"substr(h, {i + 1}, 1)" if i < 32 else f"substr(h2, {i - 31}, 1)"
        )

    sums = ", ".join(
        f"sum(w * CASE WHEN instr('89abcdef', {_src(i)}) > 0 "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i in range(64)
    )
    hash_terms = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN "
        + ("(-9223372036854775808)::BIGINT" if i == 63 else f"(1::BIGINT << {i})")
        + " ELSE 0 END)"
        for i in range(64)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
cnt AS (SELECT doc_id, token, count(*) AS w, md5(token) AS h,
               md5('1:' || token) AS h2
        FROM tok GROUP BY doc_id, token),
sums AS (SELECT doc_id, {sums} FROM cnt GROUP BY doc_id)
SELECT doc_id, CAST({hash_terms} AS BIGINT) AS simhash FROM sums
"""


_SIMHASH_PAIRS64_ORACLE = f"""
WITH s AS ({_simhash64_oracle()}),
b AS (SELECT doc_id, simhash, bb, (simhash >> (bb * 16)) & 65535 AS key
      FROM s, (SELECT unnest([0, 1, 2, 3]) AS bb)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
                         b2.doc_id AS doc_b, b2.simhash AS sb
         FROM b a JOIN b b2
           ON a.bb = b2.bb AND a.key = b2.key AND a.doc_id < b2.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@_register("doc_simhash_pairs64", _SIMHASH_PAIRS64_ORACLE)
def doc_simhash_pairs64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at PRODUCTION width: 64 bits, hamming <= 3,
    Manku 4-band (16-bit slices) pigeonhole blocking.  The 16-bit variant
    (doc_simhash_pairs) saturates its 65k hash space under clone
    replication (46.8M qualifying pairs at sf1 — a checker-capacity case);
    at 64 bits only true near-dups collide, so the pair relation stays
    bounded at every scale and the full value-hash property holds
    registry-wide."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(
        _load_parallel(spark, sf_dir, "documents"),
        max_hamming=3,
        bits=64,
        bands=4,
    )


@_register(
    "doc_simhash_pairs",
    _SIMHASH_PAIRS_ORACLE,
    scale_domain={
        "max_sf": 1,
        "reason": "16-bit SATURATION contract: the hash space itself "
        "saturates (~4.7B pairs at sf10); production sibling "
        "doc_simhash_pairs64 runs at every scale",
    },
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (Manku et al. 2007): hamming <= 1 over the
    16-bit simhash, candidates from a band-blocked equi-self-join (2 slices
    of 8 bits; pigeonhole guarantees any <=1-flip pair agrees on a slice).
    Completes the simhash story: doc_simhash computes the hashes, this
    finds the duplicates — with the banded (never all-pairs) join shape
    that survives 100 TB.  (At 16 bits a loose radius matches random-doc
    collisions, so the contract pins the tight radius; production simhash
    uses 64 bits where radius 3 is the standard setting.)"""
    _utc(spark)
    from biggraphite_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(
        _load_parallel(spark, sf_dir, "documents"), max_hamming=1, bands=2
    )


def _corpus_novel_oracle(k: int = 16, bands: int = 4) -> str:
    r = k // bands
    mins = ", ".join(
        f"min(substr(md5('{j // 4}:' || sh), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=" || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH d AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, unnest(sh) AS sh FROM d),
sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
bands AS ({band_selects}),
corpus AS (SELECT DISTINCT band, key FROM bands WHERE doc_id < 250),
colliding AS (SELECT DISTINCT b.doc_id FROM bands b
              JOIN corpus c ON b.band = c.band AND b.key = c.key
              WHERE b.doc_id >= 250)
SELECT doc_id FROM documents
WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM colliding)
"""


@_register("doc_corpus_novel", _corpus_novel_oracle())
def doc_corpus_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time novelty filter, batch contract: docs (the second half of
    the table, standing in for a day's arrivals) that do NOT LSH-collide
    with the historical corpus (the first half) survive.  Exercises the
    streaming dedup core (streaming/dedup.py near_dup_filter + the
    shuffle-free Arrow MinHash signatures) end to end under the DuckDB
    oracle — the same code foreachBatch runs per micro-batch."""
    _utc(spark)
    from biggraphite_spark.streaming.dedup import corpus_band_index, near_dup_filter

    docs = _load_parallel(spark, sf_dir, "documents")
    half = 250
    corpus = docs.filter(F.col("doc_id") < half)
    incoming = docs.filter(F.col("doc_id") >= half)
    index = corpus_band_index(corpus)
    return near_dup_filter(incoming, index).select("doc_id")


_COLLOC_MIN = 5
_COLLOC_K = 50

_COLLOC_ORACLE = f"""
WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
pos AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks),
pairs AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS pair_count
          FROM pos GROUP BY 1, 2 HAVING count(*) >= {_COLLOC_MIN}),
uni AS (SELECT w, count(*) AS c
        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
totals AS (SELECT sum(len(tk)) AS n_uni, sum(len(tk) - 1) AS n_pair FROM toks)
SELECT p.w1, p.w2, p.pair_count,
       ROUND(ln((p.pair_count::DOUBLE * t.n_uni::DOUBLE * t.n_uni::DOUBLE)
                / (t.n_pair::DOUBLE * u1.c::DOUBLE * u2.c::DOUBLE)), 6) AS pmi
FROM pairs p
JOIN uni u1 ON u1.w = p.w1
JOIN uni u2 ON u2.w = p.w2
CROSS JOIN totals t
ORDER BY pmi DESC, w1, w2
LIMIT {_COLLOC_K}
"""


@_register("doc_collocations", _COLLOC_ORACLE)
def doc_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining: top-k adjacent-word pairs by PMI (Mikolov et al. 2013
    §4) — two token-level hash aggregations, vocabulary-sized broadcast
    joins, TakeOrdered top-k; the corpus is never wide-shuffled."""
    _utc(spark)
    from biggraphite_spark.operators.text import collocations

    return collocations(
        _load_parallel(spark, sf_dir, "documents"),
        min_count=_COLLOC_MIN,
        top_k=_COLLOC_K,
    )


_BIGRAM_LAM = 0.9
#: repr() so DuckDB parses the EXACT float Python computes for 1-lam
_BIGRAM_LAM_C = repr(1.0 - _BIGRAM_LAM)

_BIGRAM_LM_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks),
big AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, count(*) AS m
        FROM pos GROUP BY 1, 2, 3),
pc AS (SELECT w1, w2, sum(m) AS c12 FROM big GROUP BY 1, 2),
uni AS (SELECT w, count(*) AS c
        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM uni),
scored AS (
  SELECT b.doc_id, b.m,
         {_BIGRAM_LAM} * (pc.c12::DOUBLE / u1.c)
         + {_BIGRAM_LAM_C} * (u2.c::DOUBLE / tot.n) AS p
  FROM big b
  JOIN pc ON pc.w1 = b.w1 AND pc.w2 = b.w2
  JOIN uni u1 ON u1.w = b.w1
  JOIN uni u2 ON u2.w = b.w2
  CROSS JOIN tot
)
SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       ROUND(sum(-m * log2(p)) / sum(m), 6) AS cross_entropy,
       ROUND(pow(2.0, sum(-m * log2(p)) / sum(m)), 6) AS perplexity
FROM scored GROUP BY doc_id
"""


@_register("doc_bigram_lm", _BIGRAM_LM_ORACLE)
def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM cross-entropy/perplexity per document (the
    rung above doc_perplexity toward CCNet's KenLM signal): per-doc distinct
    bigrams joined to the vocabulary²-bounded corpus pair relation (AQE
    broadcasts it when it fits), vocabulary + scalar totals broadcast."""
    _utc(spark)
    from biggraphite_spark.operators.curation import bigram_logprob

    return bigram_logprob(
        _load_parallel(spark, sf_dir, "documents"), lam=_BIGRAM_LAM
    )


def _norm_oracle() -> str:
    # the differential contract replays the EXACT pii_mask patterns in RE2,
    # so interpolate them from the operator module instead of hand-copying
    # (the patterns restrict themselves to the Java∩RE2 subset)
    from biggraphite_spark.operators.text import PII_PATTERNS

    masked = "n"
    for pat, token in PII_PATTERNS:
        masked = f"regexp_replace({masked}, '{pat}', '{token}', 'g')"
    return f"""
WITH perturbed AS (
  SELECT doc_id,
         '  ' || upper(replace(text, ' ', '  ')) || chr(9) || 'User.'
         || CAST(doc_id AS VARCHAR) || '@Example.COM ' || chr(7) || 'end'
         AS p
  FROM documents
),
norm AS (
  SELECT doc_id,
         lower(trim(regexp_replace(
            regexp_replace(p, '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
            '[ \\t\\n\\r]+', ' ', 'g'))) AS n
  FROM perturbed
)
SELECT doc_id, {masked} AS clean_text
FROM norm
"""


_NORM_ORACLE = _norm_oracle()


@_register("doc_normalize", _NORM_ORACLE)
def doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization + PII masking as a differential contract: both
    engines deterministically perturb the corpus (leading/doubled spaces,
    uppercase, a tab, an injected per-doc email, a control char), then the
    Spark side runs normalize_text + pii_mask while the oracle replays the
    same regex pipeline in RE2 — pinning that the cleanup semantics are
    engine-portable, not Java-regex accidents.  Pure chained projections:
    one scan, zero shuffles, scan-speed at any corpus size."""
    _utc(spark)
    from biggraphite_spark.operators.text import normalize_text, pii_mask

    docs = _load_parallel(spark, sf_dir, "documents")
    perturbed = F.concat(
        F.lit("  "),
        F.upper(F.replace(F.col("text"), F.lit(" "), F.lit("  "))),
        F.lit("\tUser."),
        F.col("doc_id").cast("string"),
        F.lit("@Example.COM \x07end"),
    )
    return docs.select(
        "doc_id", pii_mask(normalize_text(perturbed)).alias("clean_text")
    )


_NB_ORACLE = """
WITH post AS (
  SELECT doc_id, lang AS y, tok, count(*) AS m
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2, 3
),
counts AS (SELECT y, tok, sum(m) AS c FROM post GROUP BY 1, 2),
vocab AS (SELECT DISTINCT tok FROM post),
vsize AS (SELECT count(*) AS v FROM vocab),
totals AS (SELECT y, sum(c) AS t FROM counts GROUP BY 1),
priors AS (SELECT lang AS y, count(*) AS nd FROM documents GROUP BY 1),
ntot AS (SELECT count(*) AS n FROM documents),
grid AS (
  SELECT tt.y, vb.tok,
         ln((coalesce(c.c, 0) + 1.0) / (tt.t + 1.0 * vs.v)) AS ll
  FROM vocab vb
  CROSS JOIN totals tt
  LEFT JOIN counts c ON c.y = tt.y AND c.tok = vb.tok
  CROSS JOIN vsize vs
),
scored AS (
  SELECT p.doc_id, g.y, sum(p.m * g.ll) AS s
  FROM (SELECT doc_id, tok, m FROM post) p JOIN grid g ON g.tok = p.tok
  GROUP BY 1, 2
),
final AS (
  SELECT sc.doc_id, sc.y,
         sc.s + ln(pr.nd::DOUBLE / nt.n) AS score,
         row_number() OVER (
           PARTITION BY sc.doc_id
           ORDER BY sc.s + ln(pr.nd::DOUBLE / nt.n) DESC, sc.y
         ) AS rn
  FROM scored sc JOIN priors pr ON pr.y = sc.y CROSS JOIN ntot nt
)
SELECT d.doc_id, d.lang, f.y AS pred, ROUND(f.score, 6) AS score
FROM final f JOIN documents d ON d.doc_id = f.doc_id
WHERE f.rn = 1
"""


@_register("doc_nb_lang", _NB_ORACLE)
def doc_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, fit AND applied in one
    declarative plan (the fasttext-style filter gate whose training is pure
    counting): Laplace-smoothed (label × vocab) model grid broadcast onto
    the postings, one linear scoring shuffle, argmax per doc."""
    _utc(spark)
    from biggraphite_spark.operators.text import nb_classifier

    return nb_classifier(_load_parallel(spark, sf_dir, "documents"))


def _dataset_card_oracle() -> str:
    """Reuses the generated quality-rule SQL so ONE externalized rule table
    drives the per-doc keep flag in both the doc_quality_rules contract and
    this corpus-level rollup."""
    from biggraphite_spark.operators.text import STOPWORDS

    stops = _sql_word_list(STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        (len(toks) >= 20 AND len(toks) <= 100000
         AND (length(text) - (len(toks) - 1)) * 1.0 / len(toks) >= 3.0
         AND (length(text) - (len(toks) - 1)) * 1.0 / len(toks) <= 10.0
         AND list_max(list_transform(toks, x -> length(x))) <= 20
         AND len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(toks) >= 0.8
         AND len(list_filter(toks, x -> x IN ({stops}))) >= 2) AS keep
      FROM t),
per AS (SELECT t.doc_id, lang, source, len(toks) AS n_toks, s.keep
        FROM t JOIN s USING (doc_id)),
base AS (SELECT count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                count(DISTINCT lang) AS n_langs,
                count(DISTINCT source) AS n_sources,
                ROUND(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END) * 100, 4) AS pct_quality_pass,
                ROUND(avg(n_toks), 6) AS mean_doc_tokens,
                quantile_cont(n_toks, 0.5) AS p50_doc_tokens,
                quantile_cont(n_toks, 0.95) AS p95_doc_tokens
         FROM per),
dup AS (SELECT ROUND((sum(c) - count(*)) / sum(c) * 100, 4) AS pct_exact_dup
        FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)),
vocab AS (SELECT count(DISTINCT w) AS vocab_size
          FROM (SELECT unnest(toks) AS w FROM t))
SELECT * FROM base CROSS JOIN dup CROSS JOIN vocab
"""


@_register("doc_dataset_card", _dataset_card_oracle())
def doc_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release summary in one row (docs/tokens/vocab, language and
    source spread, exact-dup rate, Gopher-gate pass rate, length
    quantiles): three linear aggregations over one scan, cross-joined as
    single-row broadcasts."""
    _utc(spark)
    from biggraphite_spark.operators.curation import dataset_card

    return dataset_card(_load_parallel(spark, sf_dir, "documents"))


_SRC_OVERLAP_ORACLE = f"""
WITH g AS ({_CONTAM_GRAMS}),
p AS (SELECT DISTINCT d.source AS src, g.gram
      FROM g JOIN documents d USING (doc_id)),
t AS (SELECT src, count(*) AS n FROM p GROUP BY 1),
pr AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared
       FROM p a JOIN p b ON a.gram = b.gram AND a.src < b.src
       GROUP BY 1, 2)
SELECT source_a, source_b, shared, ta.n AS n_a, tb.n AS n_b,
       ROUND(shared / least(ta.n, tb.n), 6) AS overlap_coef
FROM pr JOIN t ta ON ta.src = source_a JOIN t tb ON tb.src = source_b
"""


@_register("doc_source_overlap", _SRC_OVERLAP_ORACLE)
def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shared-shingle matrix (the leakage audit before mixing
    sub-corpora): distinct (source, gram) postings, gram-keyed self-join
    bounded by sources-per-gram, per-source totals broadcast."""
    _utc(spark)
    from biggraphite_spark.operators.curation import source_overlap

    return source_overlap(
        _load_parallel(spark, sf_dir, "documents"), n=_CONTAM_N
    )


_ZSCORE_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")},
st AS (SELECT name, avg(value) AS mu, stddev_samp(value) AS sd
       FROM s GROUP BY name),
z AS (SELECT s.name, s.ts, s.value,
             CASE WHEN st.sd > 0 THEN ROUND((s.value - st.mu) / st.sd, 6) END AS z
      FROM s JOIN st USING (name))
SELECT name, ts, value, z,
       coalesce(abs(z) > 2.0, FALSE) AS is_outlier
FROM z
"""


@_register("gr_zscore", _ZSCORE_ORACLE)
def gr_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series z-score anomaly flags over the hourly finals — the
    static-band complement to gr_holt_winters; one series-keyed window that
    the name-clustered cache serves exchange-free."""
    _utc(spark)
    from biggraphite_spark.functions.series import zscore_outliers

    return zscore_outliers(_hourly_finals(spark, sf_dir, "bg.purchase.*"))


_TRUNC_D = 16

_TRUNC_RECALL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 5),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 5) AS sim
  FROM n c, q WHERE c.vec_id != q.vec_id
),
x AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, row_number() OVER w AS rk
    FROM sims WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
  ) WHERE rk <= 5
),
nt AS (SELECT vec_id, v,
              sqrt(list_sum(list_transform(generate_series(1, {_TRUNC_D}), i -> v[i] * v[i]))) AS nrm
       FROM e),
qt AS (SELECT vec_id, v, nrm FROM nt WHERE vec_id < 5),
tsims AS (
  SELECT qt.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(generate_series(1, {_TRUNC_D}), i -> qt.v[i] * c.v[i]))
               / (qt.nrm * c.nrm), 5) AS sim
  FROM nt c, qt WHERE c.vec_id != qt.vec_id
),
a AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, row_number() OVER w AS rk
    FROM tsims WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
  ) WHERE rk <= 5
),
c AS (SELECT x.query_id, count(*) AS n_common
      FROM x JOIN a ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
      GROUP BY 1),
t AS (SELECT query_id, count(*) AS n_exact FROM x GROUP BY 1)
SELECT t.query_id, CAST(t.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(c.n_common, 0) * 1.0 / t.n_exact, 6) AS recall_at_k
FROM t LEFT JOIN c ON t.query_id = c.query_id
"""


@_register("emb_truncate_recall", _TRUNC_RECALL_ORACLE)
def emb_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation as the cheap retrieval tier:
    recall@5 of first-{_TRUNC_D}-dims cosine top-5 against the full-dim
    exact ranking — the memory/recall dial (Kusupati et al. 2022) measured
    as an exact, oracle-checkable quantity like emb_ann_recall.  On the
    synthetic iid embeddings the measured recall is the no-structure floor
    (~0-0.2): MRL-trained vectors pack signal into the prefix, iid ones
    don't — which is precisely what this probe is for."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import cosine_topk, truncate_dims

    emb = _load_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = cosine_topk(
        truncate_dims(emb, _TRUNC_D), truncate_dims(q, _TRUNC_D), k=5
    ).select("query_id", "neighbor_id")
    common = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    totals = exact.groupBy("query_id").agg(F.count("*").cast("long").alias("n_exact"))
    return totals.join(common, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.round(F.coalesce("n_common", F.lit(0)) / F.col("n_exact"), 6).alias("recall_at_k"),
    )


_RP_D = 16


def _rp_recall_oracle() -> str:
    """The ±1 projection matrix comes from the same Python recipe the Spark
    operator embeds (similarity.rp_signs), so both engines evaluate the
    identical literal-coefficient sums in the identical order."""
    from biggraphite_spark.operators.similarity import rp_signs

    signs = rp_signs(64, _RP_D)

    def rp_list(alias: str) -> str:
        dims = []
        for row in signs:
            expr = ("" if row[0] > 0 else "-") + f"{alias}[1]"
            for i, s in enumerate(row[1:], start=2):
                expr += f" {'+' if s > 0 else '-'} {alias}[{i}]"
            dims.append("(" + expr + ")")
        return "list_value(" + ", ".join(dims) + ")"

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 5),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_DOT64.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 5) AS sim
  FROM n c, q WHERE c.vec_id != q.vec_id
),
x AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, row_number() OVER w AS rk
    FROM sims WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
  ) WHERE rk <= 5
),
r AS (SELECT vec_id, {rp_list('v')} AS v FROM e),
nr AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM r),
qr AS (SELECT vec_id, v, nrm FROM nr WHERE vec_id < 5),
rsims AS (
  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(generate_series(1, {_RP_D}), i -> qr.v[i] * c.v[i]))
               / (qr.nrm * c.nrm), 5) AS sim
  FROM nr c, qr WHERE c.vec_id != qr.vec_id
),
a AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, row_number() OVER w AS rk
    FROM rsims WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
  ) WHERE rk <= 5
),
c AS (SELECT x.query_id, count(*) AS n_common
      FROM x JOIN a ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
      GROUP BY 1),
t AS (SELECT query_id, count(*) AS n_exact FROM x GROUP BY 1)
SELECT t.query_id, CAST(t.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(c.n_common, 0) * 1.0 / t.n_exact, 6) AS recall_at_k
FROM t LEFT JOIN c ON t.query_id = c.query_id
"""


@_register("emb_rp_recall", _rp_recall_oracle())
def emb_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection to {_RP_D} dims as the
    cheap retrieval tier: recall@5 vs full-dim exact top-5.  The
    counterpart probe to emb_truncate_recall: truncation's recall depends
    on the energy being front-loaded (MRL training), while the JL bound is
    distribution-free — on the isotropic synthetic vectors both probes
    read the same random-subspace floor (observed ~0-0.2), and on real
    anisotropic embeddings their gap is exactly the quantity these two
    contracts measure."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import cosine_topk, random_projection

    emb = _load_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    # exchange barrier after the 16x64-term projection: without it
    # CollapseProject inlines the signed sums into every per-pair dot and
    # norm evaluation (the ann_ivfpq_topk pattern, similarity.py) — and the
    # inline expression's one-time codegen alone cost ~13s in-suite.  The
    # repartition ships only the 16-double projected rows.
    approx = cosine_topk(
        random_projection(emb, _RP_D).repartition(8),
        random_projection(q, _RP_D),
        k=5,
    ).select("query_id", "neighbor_id")
    common = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    totals = exact.groupBy("query_id").agg(F.count("*").cast("long").alias("n_exact"))
    return totals.join(common, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.round(F.coalesce("n_common", F.lit(0)) / F.col("n_exact"), 6).alias("recall_at_k"),
    )


def _chunk_neardup_oracle(k: int = 16, bands: int = 4) -> str:
    """Chunk-level twin of _minhash_oracle: the same salted-md5 signature and
    banding algebra over chunk pseudo-docs (ckey = doc_id*2^32 + chunk_id),
    including shingles_col's whole-text fallback for sub-n trailing chunks,
    then per-doc survivor counts (later side of every >=0.5 pair drops)."""
    r = k // bands
    mins = ", ".join(
        f"min(substr(md5('{j // 4}:' || sh), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT ckey, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=" || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
spans AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(ceil(len(toks) / {_CHUNK}.0) AS INT) - 1))
           AS chunk_id,
         toks
  FROM t),
s2 AS (
  SELECT doc_id, chunk_id, doc_id * 4294967296 + chunk_id AS ckey,
         array_to_string(
           list_slice(toks, chunk_id * {_CHUNK} + 1, chunk_id * {_CHUNK} + {_CHUNK}),
           ' ') AS ctext
  FROM spans),
csh AS (
  SELECT ckey,
         CASE WHEN len(string_split(ctext, ' ')) >= 3
              THEN list_distinct(list_transform(
                     generate_series(1, len(string_split(ctext, ' ')) - 2),
                     i -> array_to_string(string_split(ctext, ' ')[i:i+2], ' ')))
              ELSE [ctext] END AS sh
  FROM s2),
s AS (SELECT ckey, unnest(sh) AS sh FROM csh),
sig AS (SELECT ckey, {mins} FROM s GROUP BY ckey),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.ckey AS ka, b.ckey AS kb
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.ckey < b.ckey),
v AS (SELECT ka, kb, len(list_intersect(da.sh, db.sh)) AS shared,
             len(da.sh) AS na, len(db.sh) AS nb
      FROM cand JOIN csh da ON da.ckey = ka JOIN csh db ON db.ckey = kb),
dropped AS (SELECT DISTINCT kb AS ckey FROM v
            WHERE shared * 1.0 / (na + nb - shared) >= 0.5)
SELECT s2.doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN d.ckey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM s2 LEFT JOIN dropped d ON d.ckey = s2.ckey
GROUP BY s2.doc_id
"""


@_register("doc_chunk_neardup", _chunk_neardup_oracle())
def doc_chunk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level FUZZY dedup: 8-token chunks as MinHash-LSH
    pseudo-docs, later side of every >=0.5-Jaccard pair dropped — the
    CCNet/RefinedWeb boilerplate pass for spans that mutate slightly
    between pages (chunk_dedup's exact-hash sibling)."""
    _utc(spark)
    from biggraphite_spark.operators.curation import chunk_neardup

    return chunk_neardup(_load_parallel(spark, sf_dir, "documents"), chunk=_CHUNK)


_TARGET_EXPR = "scale(movingAverage(sumSeries(bg.purchase.*), 4), 0.5)"

_TARGET_EXPR_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")},
c AS (SELECT ts, sum(value) AS value FROM s GROUP BY ts),
m AS (SELECT ts, avg(value) OVER (ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS value
      FROM c)
SELECT 'sumSeries(bg.purchase.*)' AS name, ts, ROUND(value * 0.5, 6) AS value
FROM m
"""


@_register("gr_target_expr", _TARGET_EXPR_ORACLE)
def gr_target_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The render-target expression language under the correctness gate:
    parse ``{_TARGET_EXPR}`` and evaluate the nested call tree
    (functions/targets.py) onto the hourly finals — the exact path a
    graphite-web /render?target=... request takes, replayed by plain SQL
    window algebra in the oracle."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    node = parse_target(_TARGET_EXPR)
    s = _hourly_finals(spark, sf_dir, "bg.purchase.*")
    df = evaluate_target(node, fetch=lambda g: s, step=3600)
    return df.select("name", "ts", F.round("value", 6).alias("value"))


_EVENTS_ANOMALY_ORACLE = """
WITH d AS (
  SELECT event_type AS name,
         CAST((epoch_ns(ts) // 1000000000) // 86400 AS BIGINT) AS ts,
         CAST(count(*) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2
),
st AS (SELECT name, avg(value) AS mu, stddev_samp(value) AS sd
       FROM d GROUP BY name),
z AS (SELECT d.name, d.ts, d.value,
             CASE WHEN st.sd > 0 THEN ROUND((d.value - st.mu) / st.sd, 6) END AS z
      FROM d JOIN st USING (name))
SELECT name, ts, value, z, coalesce(abs(z) > 2.0, FALSE) AS is_outlier
FROM z
"""


@_register("events_anomaly", _EVENTS_ANOMALY_ORACLE)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly flags per type: one counting aggregation
    feeds the same per-series z-score operator the metrics side uses
    (gr_zscore) — the ops-dashboard traffic-drop/spike detector."""
    _utc(spark)
    from biggraphite_spark.functions.series import zscore_outliers
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    daily = (
        ev.select(
            F.col("event_type").alias("name"),
            (event_ts_seconds(ev) / 86400).cast("long").alias("ts"),
        )
        .groupBy("name", "ts")
        .agg(F.count("*").cast("double").alias("value"))
    )
    return zscore_outliers(daily)


# ---------------------------------------------------------------------------
# Round-4 additions: star CC under the gate, new render verbs, RAKE keywords
# ---------------------------------------------------------------------------


@_register("doc_dup_clusters_star", _dup_clusters_oracle())
def doc_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH near-dup graph via the DISTRIBUTED
    large-star/small-star path (Kiveris et al. 2014, O(log^2 n) rounds
    independent of diameter) — same contract as doc_dup_clusters, which
    takes the driver union-find path; this pins the extreme-scale algorithm
    against the identical oracle.  Since round 10 the star rounds run on
    the twin-class quotient (graph._twin_quotient, lossless: components
    are class-uniform and class ids are min member ids), so a clone
    blow-up's star iteration touches thousands of class edges, not
    millions of member edges."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import dup_clusters

    return dup_clusters(
        _load_parallel(spark, sf_dir, "documents"), threshold=0.5,
        cc_method="star",
    )


_TARGET_EXPR2 = "integralByInterval(highestCurrent(bg.purchase.*, 2), '6h')"

_TARGET_EXPR2_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")},
lastv AS (SELECT name, ROUND(arg_max(value, ts), 6) AS stat
          FROM s WHERE value IS NOT NULL GROUP BY name),
top2 AS (SELECT name FROM lastv ORDER BY stat DESC, name ASC LIMIT 2),
k AS (SELECT s.* FROM s JOIN top2 USING (name))
SELECT name, ts,
       ROUND(sum(value) OVER (PARTITION BY name, ts - (ts % 21600)
                              ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS value
FROM k
"""


@_register("gr_target_expr2", _TARGET_EXPR2_ORACLE)
def gr_target_expr2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 render verbs under the correctness gate: parse
    ``{_TARGET_EXPR2}`` — safeLast ranking (highestCurrent) feeding
    per-interval running integrals (integralByInterval) — and evaluate the
    call tree onto the hourly finals; the oracle replays the pipeline as
    plain SQL window algebra (arg_max ranking + partitioned running sum)."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    node = parse_target(_TARGET_EXPR2)
    s = _hourly_finals(spark, sf_dir, "bg.purchase.*").select(
        "name", "ts", F.round("value", 6).alias("value")
    )
    df = evaluate_target(node, fetch=lambda g: s, step=3600)
    return df.select("name", "ts", F.round("value", 6).alias("value"))


_RAKE_STOP = "('the', 'a', 'an', 'and', 'of', 'to', 'in', 'is')"

_RAKE_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
p AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM t),
tok AS (SELECT doc_id, pos, toks[pos] AS tok FROM p WHERE toks[pos] <> ''),
content AS (SELECT doc_id, pos, tok FROM tok WHERE tok NOT IN {_RAKE_STOP}),
seg AS (SELECT doc_id, pos, tok,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS phrase_id
        FROM content),
plen AS (SELECT doc_id, phrase_id, count(*) AS plen,
                string_agg(tok, ' ' ORDER BY pos) AS phrase
         FROM seg GROUP BY 1, 2),
ws AS (SELECT seg.doc_id, seg.tok,
              sum(plen.plen) * 1.0 / count(*) AS wscore
       FROM seg JOIN plen USING (doc_id, phrase_id)
       GROUP BY 1, 2),
ps AS (SELECT seg.doc_id, seg.phrase_id, ROUND(sum(ws.wscore), 6) AS score
       FROM seg JOIN ws ON seg.doc_id = ws.doc_id AND seg.tok = ws.tok
       GROUP BY 1, 2),
r AS (SELECT ps.doc_id, plen.phrase, ps.score,
             row_number() OVER (PARTITION BY ps.doc_id
                                ORDER BY ps.score DESC, plen.phrase ASC) AS rank
      FROM ps JOIN plen ON ps.doc_id = plen.doc_id
                       AND ps.phrase_id = plen.phrase_id)
SELECT doc_id, phrase, score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3
"""


@_register("doc_keywords_rake", _RAKE_ORACLE)
def doc_keywords_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): stopword-boundary
    candidate phrases, word score deg/freq over the document's candidates,
    phrase score = sum of word scores, top-3 phrases per document.
    Gaps-and-islands segmentation + two doc-keyed aggregations — postings
    shape, linear in corpus tokens."""
    _utc(spark)
    from biggraphite_spark.operators.text import rake_keywords

    return rake_keywords(_load_parallel(spark, sf_dir, "documents"), top_k=3)


_XSRC_ORACLE = """
WITH h AS (SELECT doc_id, source, md5(text) AS h FROM documents)
SELECT doc_id, source,
       first_value(doc_id) OVER w AS kept_doc_id,
       row_number() OVER w = 1 AS keep
FROM h
WINDOW w AS (PARTITION BY h ORDER BY source ASC, doc_id ASC)
"""


@_register("doc_dedup_cross_source", _XSRC_ORACLE)
def doc_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dump exact dedup with source priority: identical-text groups
    keep the copy from the best-ranked source (lexicographic here — the
    operator takes a best-first priority list), then lowest doc_id — the
    multi-crawl "keep the curated dump's copy" rule.  One content-hash
    window, no joins."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import cross_source_dedup

    return cross_source_dedup(_load_parallel(spark, sf_dir, "documents"))


_NOVELTY_ORACLE = """
WITH g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 3
                     THEN list_distinct(list_transform(
                            generate_series(1, len(toks) - 2),
                            i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                     ELSE [array_to_string(toks, ' ')] END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
FROM g JOIN f USING (gram)
GROUP BY doc_id
"""


@_register("doc_ngram_novelty", _NOVELTY_ORACLE)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: fraction of a doc's distinct shingles
    whose first corpus appearance (doc_id order) is this doc — the
    marginal-contribution signal for ranking candidate documents against
    an already-ingested corpus (data-valuation flavor of the
    contamination shape; gram-keyed min-agg + join, linear)."""
    _utc(spark)
    from biggraphite_spark.operators.curation import ngram_novelty

    return ngram_novelty(_load_parallel(spark, sf_dir, "documents"), n=3)


@_register(
    "emb_ann_filtered",
    _ann_ivf_oracle(corpus_where="WHERE vec_id % 2 = 0"),
)
def emb_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: IVF ANN restricted to corpus vectors
    passing a metadata predicate (vec_id % 2 = 0 stands in for the
    "WHERE lang='en'" filter), pre-filter semantics — codebook from the
    full corpus, predicate applied before the probe join so the top-k is
    exactly the filtered top-k."""
    _utc(spark)
    from biggraphite_spark.operators.similarity import ann_ivf_topk_filtered

    emb = _load_parallel(spark, sf_dir, "embeddings")
    return ann_ivf_topk_filtered(
        emb,
        emb.filter(F.col("vec_id") < 5),
        corpus_filter=F.col("vec_id") % 2 == 0,
        nprobe=2,
        k=5,
    )


@_register("mm_ahash", _twin("mm_ahash_sql"))  # python-twin literal oracle
def mm_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints end to end: synthesize + decode BMPs,
    then average-hash each image (integer-mean grayscale thresholded
    against the image mean, bits packed MSB-first) entirely in JVM
    higher-order functions — hamming distance between hashes is the
    near-duplicate image signal, and dedup reuses the SimHash band join
    unchanged."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import (
        decode_image,
        image_ahash,
        synthesize_bmp_media,
    )

    docs = _load_parallel(spark, sf_dir, "documents")
    return image_ahash(decode_image(synthesize_bmp_media(docs)))


@_register("mm_ahash_neardups", _twin("mm_ahash_neardups_sql"))  # python-twin literal oracle
def mm_ahash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection end to end: the corpus re-enters every
    doc_id % 7 == 0 image a second time (exact duplicate), then banded
    hamming join over the perceptual hashes (Manku band-blocking on
    16-bit aHash slices, bit_count(xor) verify <= 6) — the multimodal
    twin of the SimHash text pipeline, one (band, slice)-keyed
    self-join."""
    _utc(spark)
    from biggraphite_spark.operators.multimodal import (
        ahash_near_dups,
        decode_image,
        image_ahash,
        synthesize_bmp_media,
    )

    docs = _load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    hashed = image_ahash(
        decode_image(synthesize_bmp_media(docs.unionByName(dup)))
    )
    return ahash_near_dups(hashed, bands=4, max_hamming=6)


@_register("events_kmv_merge", _KMV_ORACLE)
def events_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE algebra under the gate: per-(event_type, day)
    k-minima partials (the synopsis a daily job would persist) merged back
    to per-event-type estimates — the union-retake-k merge is exact, so
    the result matches the direct single-pass sketch bit-for-bit and
    shares events_distinct_kmv's oracle verbatim.  The merge input is
    synopsis-sized: ≤k hashes per partial regardless of raw volume."""
    _utc(spark)
    from biggraphite_spark.operators.sketches import kmv_merge, kmv_partials
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    daily = kmv_partials(
        ev.select(
            "event_type",
            "user_id",
            (event_ts_seconds(ev) / 86400).cast("long").alias("day"),
        ),
        "user_id",
        ("event_type", "day"),
        k=_KMV_K,
    )
    return kmv_merge(daily, ("event_type",), k=_KMV_K)


def _hll_oracle() -> str:
    """Shares the alpha constant with the engine via repr() interpolation,
    so both engines compute the estimator on the identical double."""
    from biggraphite_spark.operators.sketches import _hll_alpha

    m = 256  # p = 8
    a = f"{_hll_alpha(m)!r}::DOUBLE"
    return f"""
WITH h AS (SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
           AS hv
       FROM events),
r AS (SELECT DISTINCT event_type, hv // 16777216 AS idx,
        CASE WHEN hv % 16777216 = 0 THEN 25
             ELSE 25 - length(bin(hv % 16777216)) END AS rho
      FROM h),
regs AS (SELECT event_type, idx, MAX(rho) AS rho FROM r GROUP BY 1, 2),
z AS (SELECT event_type,
             ({m} - count(*)) * 1.0 + sum(power(2.0, -rho)) AS zsum,
             {m} - count(*) AS zeros
      FROM regs GROUP BY 1),
ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       FROM events GROUP BY 1)
SELECT z.event_type,
       ROUND(CASE WHEN {a} * {m * m}.0 / zsum <= {2.5 * m} AND zeros > 0
                  THEN {m}.0 * ln({m}.0 / zeros)
                  ELSE {a} * {m * m}.0 / zsum END + 1.23e-9, 4) AS est_distinct,
       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
FROM z JOIN ex USING (event_type)
"""


@_register("events_hll", _hll_oracle())
def events_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch on the PORTABLE md5 hash
    (beyond-reference; Flajolet et al. 2007): per-(event_type, day)
    register partials — the synopsis a daily job persists, ≤256 rows per
    group regardless of raw volume — merged by per-index max back to
    per-event-type estimates.  Register merge is associative, so the
    merged estimate equals the direct single-pass sketch bit for bit and
    ONE oracle pins both the sketch math and the merge algebra.  rho is
    derived from binary-string length (integer math), keeping every
    engine's libm out of the register path; the small-range
    linear-counting branch is exercised at sf0.01, the raw estimator at
    sf0.1 — the two-scale gate covers both."""
    _utc(spark)
    from biggraphite_spark.operators.sketches import hll_merge, hll_partials
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    daily = hll_partials(
        ev.select(
            "event_type",
            "user_id",
            (event_ts_seconds(ev) / 86400).cast("long").alias("day"),
        ),
        "user_id",
        ("event_type", "day"),
    )
    est = hll_merge(daily, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.round(F.col("est_distinct") + 1.23e-9, 4).alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


_WFUNNEL_W = 3600

_WFUNNEL_ORACLE = f"""
WITH e AS (SELECT user_id, event_type, {ORACLE_TS} AS sec FROM events),
v AS (SELECT user_id, min(sec) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.sec) AS t_click FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.sec > v.t_view
        AND e.sec <= v.t_view + {_WFUNNEL_W} GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.sec) AS t_purchase FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.sec > c.t_click
        AND e.sec <= c.t_click + {_WFUNNEL_W} GROUP BY e.user_id)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS steps
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


@_register("events_funnel_windowed", _WFUNNEL_ORACLE)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel (view -> click -> purchase, 1h
    conversion window per step, Amplitude/Mixpanel semantics): the
    windowed_funnel operator — per-step conditional min-aggs chained by
    user-keyed equi-joins, the unbounded events_funnel plan plus one
    bound filter per step."""
    _utc(spark)
    from biggraphite_spark.operators.funnel import windowed_funnel
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select("user_id", "event_type", event_ts_seconds(ev).alias("sec"))
    return windowed_funnel(e, ["view", "click", "purchase"], _WFUNNEL_W)


_SPLIT_FINAL = """
SELECT doc_id, cluster_id,
       CASE WHEN frac < 0.8 THEN 'train'
            WHEN frac < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             CAST(concat('0x', substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) / 4294967296.0 AS frac
      FROM lab)
"""


@_register("doc_split_leakage_free", _dup_clusters_oracle(final_select=_SPLIT_FINAL))
def doc_split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware 80/10/10 train/val/test split: near-dup clusters are
    the split unit (no near-duplicate pair straddles a boundary — the
    structural fix for Lee et al. 2022's train-test leakage), assigned by
    a seedless md5 threshold on the cluster id.  The oracle replays the
    full LSH + connected-components pipeline and the threshold rule."""
    _utc(spark)
    from biggraphite_spark.operators.curation import leakage_free_split

    return leakage_free_split(_load_parallel(spark, sf_dir, "documents"), threshold=0.5)


_SEASONAL_CTES = f"""
WITH {_series_cte("bg.purchase.*")},
b AS (SELECT name, ts, value,
             CAST((ts % 86400) / 3600 AS BIGINT) AS phase,
             CASE WHEN count(value) OVER w1 = 24 AND count(value) OVER w2 = 24
                  THEN (avg(value) OVER w1 + avg(value) OVER w2) / 2
             END AS trend
      FROM s
      WINDOW w1 AS (PARTITION BY name ORDER BY ts
                    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
             w2 AS (PARTITION BY name ORDER BY ts
                    ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
d AS (SELECT *, value - trend AS detr FROM b),
pm AS (SELECT name, phase, avg(detr) AS pmean FROM d
       WHERE detr IS NOT NULL GROUP BY 1, 2),
ctr AS (SELECT name, avg(pmean) AS c FROM pm GROUP BY 1),
sd AS (SELECT d.name, d.ts, d.value,
              ROUND(d.trend, 6) AS trend,
              ROUND(pm.pmean - ctr.c, 6) AS seasonal,
              ROUND(d.value - d.trend - (pm.pmean - ctr.c), 6) AS residual
       FROM d LEFT JOIN pm ON d.name = pm.name AND d.phase = pm.phase
              LEFT JOIN ctr ON d.name = ctr.name)"""

_SEASONAL_ORACLE = _SEASONAL_CTES + """
SELECT name, ts, value, trend, seasonal, residual FROM sd
"""


@_register("gr_seasonal", _SEASONAL_ORACLE)
def gr_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition over the hourly finals
    (daily cycle, period 24, classical 2x24 centered MA trend emitted only
    where complete): value = trend + per-phase centered seasonal +
    residual — the capacity-planning / anomaly-triage decomposition, one
    per-series window plus two keyed aggregations."""
    _utc(spark)
    from biggraphite_spark.functions.series import seasonal_decompose

    s = _hourly_finals(spark, sf_dir, "bg.purchase.*").select(
        "name", "ts", F.round("value", 6).alias("value")
    )
    return seasonal_decompose(s, step=3600, period=24)


_ATTR_W = 86400

_ATTR_ORACLE = f"""
WITH e AS (SELECT user_id, event_type, {ORACLE_TS} AS sec FROM events),
conv AS (SELECT DISTINCT user_id, sec AS conv_sec FROM e
         WHERE event_type = 'purchase'),
t AS (SELECT e.user_id, conv_sec, e.sec AS touch_sec, e.event_type AS touch_type
      FROM e JOIN conv USING (user_id)
      WHERE e.event_type IN ('view', 'click')
        AND e.sec <= conv_sec AND e.sec > conv_sec - {_ATTR_W})
SELECT user_id, conv_sec, touch_sec, touch_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, conv_sec
                                   ORDER BY touch_sec DESC, touch_type DESC)
             AS rn
      FROM t)
WHERE rn = 1
"""


@_register("events_attribution", _ATTR_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the most
    recent view/click within the 1-day lookback (type tie-break via
    struct max, deterministic across engines) — one user-keyed equi-join
    with the window bound in the join filter plus one aggregation."""
    _utc(spark)
    from biggraphite_spark.operators.funnel import attribution
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select("user_id", "event_type", event_ts_seconds(ev).alias("sec"))
    return attribution(e, ["view", "click"], "purchase", _ATTR_W)


_SEASONAL_ANOM_ORACLE = _SEASONAL_CTES + """,
rz AS (SELECT name, ts, residual,
              ROUND(CASE WHEN stddev_samp(residual) OVER w > 0
                    THEN (residual - avg(residual) OVER w)
                         / stddev_samp(residual) OVER w END, 6) AS z
       FROM sd WINDOW w AS (PARTITION BY name))
SELECT name, ts, residual AS value, z,
       COALESCE(abs(z) > 2.0, FALSE) AS is_outlier
FROM rz
"""


@_register("gr_anomaly_seasonal", _SEASONAL_ANOM_ORACLE)
def gr_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly flags: z-score the seasonal-decomposition
    RESIDUALS instead of the raw series, so a point is anomalous relative
    to its deseasonalized baseline — the daily-cycle traffic detector
    that plain gr_zscore false-positives on.  Pure composition of the two
    shared operators (seasonal_decompose -> zscore_outliers)."""
    _utc(spark)
    from biggraphite_spark.functions.series import (
        seasonal_decompose,
        zscore_outliers,
    )

    s = _hourly_finals(spark, sf_dir, "bg.purchase.*").select(
        "name", "ts", F.round("value", 6).alias("value")
    )
    resid = seasonal_decompose(s, step=3600, period=24).select(
        "name", "ts", F.col("residual").alias("value")
    )
    return zscore_outliers(resid, threshold=2.0)


_HIST_ORACLE = f"""
WITH e AS (SELECT event_type, value FROM events
           WHERE value > 0 AND NOT isnan(value)),
h AS (SELECT event_type, CAST(floor(log2(value)) AS BIGINT) AS bucket,
             count(*) AS n
      FROM e GROUP BY 1, 2),
c AS (SELECT event_type, bucket, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM h)
SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total,
       pow(2.0, min(CASE WHEN cum >= ceil(0.5 * total) THEN bucket END))
         AS p50_est,
       pow(2.0, min(CASE WHEN cum >= ceil(0.95 * total) THEN bucket END))
         AS p95_est,
       pow(2.0, min(CASE WHEN cum >= ceil(0.99 * total) THEN bucket END))
         AS p99_est
FROM c GROUP BY 1
"""


@_register("events_latency_hist", _HIST_ORACLE)
def events_latency_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style log2-bucket histogram + percentile reconstruction per
    event type: the fixed-size, exactly-mergeable latency summary (merge
    = sum counts; estimates = lower bound of the bucket reaching the
    rank, deterministic integer math) — what a fleet reports instead of
    shipping raw latencies.  NaN values are routed out like the exact
    events_quantiles does."""
    _utc(spark)
    from biggraphite_spark.operators.sketches import hist_percentiles, log2_histogram
    from biggraphite_spark.sources.events import load_events

    ev = load_events(spark, sf_dir).filter(~F.isnan("value"))
    h = log2_histogram(ev.select("event_type", "value"), "value", ("event_type",))
    return hist_percentiles(h, (0.5, 0.95, 0.99), ("event_type",))


# -- seriesByTag tag-query surface (reference plugins/tags.py:33-148 spec) --

#: deterministic tagged-series corpus derived from events: path =
#: ``bg.<event_type>``; tags shard (cardinality 4), user (high cardinality),
#: vip (present only when user_id % 7 == 0, so the absent-tag rule has
#: something to bite on).  Canonical form sorts tags by key (shard < user
#: < vip), which both sides emit directly.
_TAGGED_CORPUS_SQL = """
SELECT DISTINCT
       concat('bg.', event_type) AS path,
       concat('s', CAST(user_id % 4 AS VARCHAR)) AS shard,
       concat('u', CAST(user_id AS VARCHAR)) AS usr,
       CASE WHEN user_id % 7 = 0 THEN 'true' ELSE '' END AS vip
FROM events
"""

#: one matcher of each kind (tags.py:40-56): anchored regex on the implicit
#: ``name`` tag, exact !=, anchored negative regex, and an empty-value =
#: (matches series WITHOUT the vip tag — the absent-tag rule)
TAG_FIND_SPECS = (
    r"name=~bg\.(click|view)",
    "shard!=s3",
    "user!=~u1[0-9]",
    "vip=",
)

_SERIES_BY_TAG_ORACLE = f"""
WITH s AS ({_TAGGED_CORPUS_SQL}),
t AS (
  SELECT concat(path, ';shard=', shard, ';user=', usr,
                CASE WHEN vip <> '' THEN concat(';vip=', vip) ELSE '' END)
           AS series,
         path, shard, usr, vip
  FROM s
)
SELECT series, path, usr AS user_tag FROM t
WHERE regexp_matches(path, '^(?:bg\\.(click|view))')
  AND shard <> 's3'
  AND NOT regexp_matches(usr, '^(?:u1[0-9])')
  AND vip = ''
"""


def _tagged_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from biggraphite_spark.operators.tags import with_tags

    ev = load_events(spark, sf_dir)
    uid = F.col("user_id")
    series = F.concat(
        F.lit("bg."),
        F.col("event_type"),
        F.lit(";shard=s"),
        (uid % 4).cast("string"),
        F.lit(";user=u"),
        uid.cast("string"),
        F.when(uid % 7 == 0, F.lit(";vip=true")).otherwise(F.lit("")),
    )
    # distinct on the NARROW key pair, then synthesize the series string:
    # the string embeds (event_type, user_id) injectively, so this is the
    # same relation — but the shuffle carries 2 columns instead of a
    # ~50-byte synthesized string, and the map-side partial agg hashes
    # ints (at sf10 the string-keyed distinct was the whole cost of the
    # tag queries)
    keys = ev.select("event_type", "user_id").distinct()
    return with_tags(keys.select(series.alias("series")), "series")


@_register("bg_series_by_tag", _SERIES_BY_TAG_ORACLE)
def bg_series_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seriesByTag find_series (reference plugins/tags.py:33-56 — the spec
    is a docstring over an all-stub TagDB, so this is the documented
    semantics, not ported behavior): all four matcher kinds conjoined over
    a tag-parsed catalog, including the series-without-the-tag rule via
    ``vip=``.  The tagged corpus goes through the real string->map parser
    (with_tags) and the matcher compiler, so the oracle checks the whole
    parse+match pipeline, not a shortcut."""
    _utc(spark)
    from biggraphite_spark.operators.tags import specs_predicate

    t = _tagged_catalog(spark, sf_dir)
    return (
        t.filter(specs_predicate(list(TAG_FIND_SPECS)))
        .select(
            "series",
            "path",
            F.col("tags").getItem("user").alias("user_tag"),
        )
    )


_TAG_VALUES_ORACLE = f"""
WITH s AS ({_TAGGED_CORPUS_SQL}),
t AS (
  SELECT path, shard, usr, vip FROM s
),
kv AS (
  SELECT 'name' AS tag, path AS value FROM t
  UNION ALL SELECT 'shard', shard FROM t
  UNION ALL SELECT 'user', usr FROM t
  UNION ALL SELECT 'vip', vip FROM t WHERE vip <> ''
)
SELECT tag, value, CAST(count(*) AS BIGINT) AS series_count
FROM kv GROUP BY 1, 2
"""


@_register("bg_tag_values", _TAG_VALUES_ORACLE)
def bg_tag_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list_tags / get_tag / list_values counts (plugins/tags.py:80-148):
    per-(tag, value) series counts over the tag map, implicit ``name`` tag
    included — one explode + hash aggregation, the shape that holds at a
    100-TB catalog."""
    _utc(spark)
    from biggraphite_spark.operators.tags import tag_values

    return tag_values(_tagged_catalog(spark, sf_dir))


_MAP_SERIES_EXPR = "mapSeries(bg.purchase.*, 0, 1)"

_MAP_SERIES_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")}
SELECT name, ts, value FROM s
"""


@_register("gr_map_series", _MAP_SERIES_ORACLE)
def gr_map_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapSeries`` dispatched STANDALONE through the render grammar
    (graphite render/functions.py mapSeries): grouping metadata only, so a
    bare mapSeries renders as the flattened input series — graphite's json
    renderer flattens the grouped list-of-lists right back.  The grouping
    half's consumer path is pinned by gr_reduce (reduceSeries)."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    node = parse_target(_MAP_SERIES_EXPR)
    s = _hourly_finals(spark, sf_dir, "bg.purchase.*")
    df = evaluate_target(node, fetch=lambda g: s, step=3600)
    return df.select("name", "ts", F.round("value", 6).alias("value"))


# ---------------------------------------------------------------------------
# Round-6 render-language expansion: generic aggregate table, seriesLists
# pairing, tag-aware grouping (functions/series.py agg_expr + friends)
# ---------------------------------------------------------------------------

_TARGET_EXPR3 = "aggregate(filterSeries(bg.purchase.*, 'max', '>', 100), 'median')"

_TARGET_EXPR3_ORACLE = f"""
WITH {_series_cte("bg.purchase.*")},
st AS (SELECT name, max(value) AS stat FROM s GROUP BY name),
k AS (SELECT s.* FROM s JOIN (SELECT name FROM st WHERE stat > 100) USING (name))
SELECT '{_TARGET_EXPR3.replace("'", "''")}' AS name, ts,
       ROUND(median(value) + 1.23e-9, 6) AS value
FROM k GROUP BY ts
"""


@_register("gr_target_expr3", _TARGET_EXPR3_ORACLE)
def gr_target_expr3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERIC half of the render function table under the gate
    (graphite render/functions.py aggregate/filterSeries, the verbs behind
    every named alias): per-series max statistic filter feeding a
    cross-series interpolated median — the aggregate-table paths
    (functions/series.py agg_expr) the named verbs don't reach.  The
    +1.23e-9 nudge is the documented PAIRED tie-breaker (_series_cte): an
    even-count median is the mean of two lattice values and can land ON a
    5e-7 rounding boundary."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    node = parse_target(_TARGET_EXPR3)
    s = _hourly_finals(spark, sf_dir, "bg.purchase.*")
    df = evaluate_target(node, fetch=lambda g: s, step=3600)
    return df.select(
        "name", "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value")
    )


_SERIES_LISTS_EXPR = (
    "diffSeriesLists(summarize(bg.click.u1*, '1d', 'sum'), "
    "summarize(bg.view.u1*, '1d', 'sum'))"
)

_SL_GLOB = "bg.{click,view}.u1*"

_SERIES_LISTS_ORACLE = f"""
WITH {_series_cte(_SL_GLOB)},
d AS (SELECT name, ts - (ts % 86400) AS ts, sum(value) AS value
      FROM s GROUP BY 1, 2),
cu AS (SELECT split_part(name, '.', 3) AS u FROM d
       GROUP BY 1 HAVING count(DISTINCT split_part(name, '.', 2)) = 2),
a AS (SELECT * FROM d WHERE name LIKE 'bg.click.%'
      AND split_part(name, '.', 3) IN (SELECT u FROM cu)),
b AS (SELECT * FROM d WHERE name LIKE 'bg.view.%'
      AND split_part(name, '.', 3) IN (SELECT u FROM cu)),
ra AS (SELECT name, row_number() OVER (ORDER BY name) AS r
       FROM (SELECT DISTINCT name FROM a)),
rb AS (SELECT name AS name2, row_number() OVER (ORDER BY name) AS r
       FROM (SELECT DISTINCT name FROM b)),
pa AS (SELECT ra.r, a.ts, a.value AS v, a.name FROM a JOIN ra USING (name)),
pb AS (SELECT rb.r, b.ts, b.value AS w, rb.name2
       FROM b JOIN rb ON b.name = rb.name2)
SELECT 'diffSeries(' || pa.name || ',' || pb.name2 || ')' AS name, pa.ts,
       ROUND((CASE WHEN v IS NOT NULL AND w IS NOT NULL THEN v - w
                   WHEN v IS NOT NULL THEN v ELSE w END) + 1.23e-9, 6) AS value
FROM pa JOIN pb ON pa.r = pb.r AND pa.ts = pb.ts
"""


@_register("gr_series_lists", _SERIES_LISTS_ORACLE)
def gr_series_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pairwise seriesLists family (graphite render/functions.py
    sumSeriesLists/diffSeriesLists/aggregateSeriesLists): two series lists
    zipped POSITIONALLY by sorted-name rank — not joined by name — then
    combined bucket-wise with safe* pair semantics (diff keeps the
    non-null side).  Each list is first re-bucketed daily (summarize) so
    the sparse hourly finals actually collide positionally.  graphite
    raises a 400 on unequal list lengths (and so does the verb now), and
    gen_sf1's clone replication gives click/view DIFFERENT u1*
    populations at sf1 — so both lists are restricted to the user
    suffixes present under BOTH event types, equal length by
    construction at every scale.  The oracle replays the zip as
    row_number-over-distinct-names joins; the daily sums are
    FP-association-sensitive, so the PAIRED +1.23e-9 tie-breaker applies
    (see _series_cte)."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    node = parse_target(_SERIES_LISTS_EXPR)
    s = _hourly_finals(spark, sf_dir, _SL_GLOB)
    suffix = F.split(F.col("name"), r"\.").getItem(2)
    common = (
        s.select(
            suffix.alias("u"),
            F.split(F.col("name"), r"\.").getItem(1).alias("t"),
        )
        .distinct()
        .groupBy("u")
        .agg(F.count_distinct("t").alias("n"))
        .filter(F.col("n") == 2)
        .select("u")
    )
    paired = s.join(F.broadcast(common), suffix == F.col("u"), "left_semi")

    def fetch(g: str) -> DataFrame:
        pre = "bg.click." if g.startswith("bg.click") else "bg.view."
        return paired.filter(F.col("name").startswith(pre))

    df = evaluate_target(node, fetch=fetch, step=3600)
    return df.select(
        "name", "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value")
    )


_GBT_EXPR = "groupByTags(tagged.clicks.*, 'avg', 'dc')"

_GBT_ORACLE = f"""
WITH {_series_cte("bg.click.u1*")},
t AS (SELECT CAST(regexp_extract(name, 'u(\\d+)$', 1) AS INT) AS u, ts, value
      FROM s)
SELECT 'average;dc=dc' || CAST(u % 3 AS VARCHAR) AS name, ts,
       ROUND(avg(value) + 1.23e-9, 6) AS value
FROM t GROUP BY 1, 2
"""


@_register("gr_group_by_tags", _GBT_ORACLE)
def gr_group_by_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupByTags`` over carbon-encoded tagged names (graphite tagged
    series: ``path;k=v;...``): series are re-labeled with deterministic
    ``clicks;dc=dcK;user=uN`` names (K = user number mod 3), then grouped
    by the ``dc`` tag value with the aggregate-table ``avg`` — exercising
    the _tag_value regex extraction and graphite's ``func;tag=value``
    output naming.  avg across series is FP-association-sensitive, so the
    PAIRED +1.23e-9 tie-breaker applies (see _series_cte)."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    s = _hourly_finals(spark, sf_dir, "bg.click.u1*")
    u = F.regexp_extract("name", r"u(\d+)$", 1).cast("int")
    tagged = s.select(
        F.concat(
            F.lit("clicks;dc=dc"), (u % 3).cast("string"),
            F.lit(";user=u"), u.cast("string"),
        ).alias("name"),
        "ts", "value",
    )
    node = parse_target(_GBT_EXPR)
    df = evaluate_target(node, fetch=lambda g: tagged, step=3600)
    return df.select(
        "name", "ts", F.round(F.col("value") + 1.23e-9, 6).alias("value")
    )


_COMPRESS_GAPS_ORACLE = f"""
WITH {_series_cte("bg.error.u2*")},
nn AS (SELECT name, ts, value FROM s WHERE value IS NOT NULL),
d AS (SELECT name,
             ts - lag(ts) OVER (PARTITION BY name ORDER BY ts) AS delta
      FROM nn),
dc AS (SELECT name, delta, count(*) AS c FROM d
       WHERE delta IS NOT NULL GROUP BY 1, 2),
mode AS (SELECT name, delta AS step FROM (
           SELECT name, delta, c,
                  row_number() OVER (PARTITION BY name
                                     ORDER BY c DESC, delta ASC) AS rk
           FROM dc) WHERE rk = 1),
span AS (SELECT name, min(ts) AS t0, max(ts) AS t1, count(*) AS n
         FROM nn GROUP BY name),
grid AS (SELECT span.name, unnest(generate_series(t0, t1, step)) AS ts
         FROM span JOIN mode USING (name) WHERE n >= 3),
regr AS (SELECT grid.name, grid.ts, s.value
         FROM grid LEFT JOIN s ON grid.name = s.name AND grid.ts = s.ts)
SELECT name, ts, value FROM regr
UNION ALL
SELECT name, ts, value FROM s
WHERE name NOT IN (SELECT name FROM span WHERE n >= 3)
"""


@_register("gr_compress_gaps", _COMPRESS_GAPS_ORACLE)
def gr_compress_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``compressPeriodicGaps`` (graphite 1.1.8) under the gate: each
    series re-gridded to the MODE of its known-point deltas (ties to the
    smaller delta), first-to-last known point; <3 known points pass
    through.  The oracle replays mode detection with window row_number +
    generate_series regrid — values are lattice passthroughs, so no
    rounding pairing is needed."""
    _utc(spark)
    from biggraphite_spark.functions.targets import evaluate_target, parse_target

    node = parse_target("compressPeriodicGaps(bg.error.u2*)")
    s = _hourly_finals(spark, sf_dir, "bg.error.u2*")
    df = evaluate_target(node, fetch=lambda g: s, step=3600)
    return df.select("name", "ts", "value")


_PAGERANK_ORACLE = f"""
WITH RECURSIVE
{_lsh_edges_ctes()},
deg AS (SELECT a, CAST(count(*) AS DOUBLE) AS outd FROM edges GROUP BY a),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
pr AS (
  SELECT 0 AS iter, doc_id, (SELECT 1.0 / n FROM nn) AS rank FROM documents
  UNION ALL
  SELECT pr.iter + 1, e.b AS doc_id,
         (SELECT 0.15 / n FROM nn) + 0.85 * sum(pr.rank / deg.outd)
  FROM pr JOIN edges e ON e.a = pr.doc_id JOIN deg ON deg.a = e.a
  WHERE pr.iter < 10
  GROUP BY pr.iter, e.b
)
SELECT doc.doc_id,
       ROUND(COALESCE(p.rank, (SELECT 0.15 / n FROM nn))
             * (SELECT n FROM nn) + 1.23e-9, 6) AS score
FROM documents doc
LEFT JOIN (SELECT doc_id, rank FROM pr WHERE iter = 10) p USING (doc_id)
"""


_REPRESENTATIVES_ORACLE = f"""
WITH RECURSIVE
{_lsh_edges_ctes()},
reach AS (SELECT doc_id, doc_id AS root FROM documents
          UNION
          SELECT e.b AS doc_id, reach.root FROM reach JOIN edges e ON e.a = reach.doc_id),
lab AS (SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
deg AS (SELECT a, CAST(count(*) AS DOUBLE) AS outd FROM edges GROUP BY a),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
pr AS (
  SELECT 0 AS iter, doc_id, (SELECT 1.0 / n FROM nn) AS rank FROM documents
  UNION ALL
  SELECT pr.iter + 1, e.b AS doc_id,
         (SELECT 0.15 / n FROM nn) + 0.85 * sum(pr.rank / deg.outd)
  FROM pr JOIN edges e ON e.a = pr.doc_id JOIN deg ON deg.a = e.a
  WHERE pr.iter < 10
  GROUP BY pr.iter, e.b
),
score AS (
  SELECT doc.doc_id,
         ROUND(COALESCE(p.rank, (SELECT 0.15 / n FROM nn))
               * (SELECT n FROM nn) + 1.23e-9, 6) AS score
  FROM documents doc
  LEFT JOIN (SELECT doc_id, rank FROM pr WHERE iter = 10) p USING (doc_id)
),
ranked AS (
  SELECT lab.cluster_id, lab.doc_id, score.score,
         count(*) OVER (PARTITION BY lab.cluster_id) AS cluster_size,
         row_number() OVER (PARTITION BY lab.cluster_id
                            ORDER BY score.score DESC, lab.doc_id ASC) AS rk
  FROM lab JOIN score USING (doc_id)
)
SELECT cluster_id, doc_id AS representative, score,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rk = 1
"""


@_register("doc_representatives", _REPRESENTATIVES_ORACLE)
def doc_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation endpoint the near-dup stack exists for: per dedup
    cluster, KEEP the highest-centrality document (PageRank score over
    the similarity graph, doc_id tie-break on the rounded lattice) —
    composition of doc_dup_clusters and doc_pagerank into the actual
    keep-list a pipeline materializes.  Both engines rank on the ROUNDED
    scores, so the representative choice is tie-stable across engines."""
    _utc(spark)
    from pyspark.sql import Window as W

    from biggraphite_spark.operators.dedup import (
        dup_clusters,
        lsh_near_dups,
        lsh_near_dups_quotient,
    )
    from biggraphite_spark.operators.graph import neardup_pagerank

    docs = _load_parallel(spark, sf_dir, "documents")
    # ONE LSH pipeline, two consumers: the quotient (or, fallback, the
    # cached pair graph) feeds both the CC labelling and the PageRank
    # iterations
    q = lsh_near_dups_quotient(docs, threshold=0.5)
    if q is not None:
        clusters = dup_clusters(docs, quotient=q).select(
            "doc_id", "cluster_id", "cluster_size"
        )
        scores = neardup_pagerank(docs, quotient=q)
    else:
        pairs = lsh_near_dups(docs, threshold=0.5).cache()
        clusters = dup_clusters(docs, pairs=pairs).select(
            "doc_id", "cluster_id", "cluster_size"
        )
        scores = neardup_pagerank(docs, pairs=pairs)
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        clusters.join(scores, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("representative"),
            "score",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


_QUALITY_PROP_ORACLE = f"""
WITH RECURSIVE
{_lsh_edges_ctes()},
wpairs AS (SELECT doc_a, doc_b,
                  ROUND(shared * 1.0 / (na + nb - shared), 6) AS w
           FROM (SELECT doc_a, doc_b,
                        len(list_intersect(da.sh, db.sh)) AS shared,
                        len(da.sh) AS na, len(db.sh) AS nb
                 FROM cand JOIN d da ON da.doc_id = doc_a
                           JOIN d db ON db.doc_id = doc_b)
           WHERE shared * 1.0 / (na + nb - shared) >= 0.5),
wedges AS (SELECT doc_a AS a, doc_b AS b, w FROM wpairs
           UNION ALL SELECT doc_b, doc_a, w FROM wpairs),
wout AS (SELECT a, sum(w) AS wout FROM wedges GROUP BY a),
seeds AS (SELECT doc_id FROM documents WHERE source = 'src0'),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
pr AS (
  SELECT 0 AS iter, doc.doc_id,
         CASE WHEN s.doc_id IS NOT NULL
              THEN (SELECT 1.0 / n FROM ns) ELSE 0.0 END AS rank
  FROM documents doc LEFT JOIN seeds s USING (doc_id)
  UNION ALL
  SELECT pr.iter + 1, e.b AS doc_id,
         CASE WHEN s.doc_id IS NOT NULL
              THEN 0.15 * (SELECT 1.0 / n FROM ns) ELSE 0.0 END
         + 0.85 * sum(pr.rank * e.w / wout.wout)
  FROM pr JOIN wedges e ON e.a = pr.doc_id JOIN wout ON wout.a = e.a
       LEFT JOIN seeds s ON s.doc_id = e.b
  WHERE pr.iter < 10
  GROUP BY pr.iter, e.b, s.doc_id
),
final AS (SELECT doc_id, rank FROM pr WHERE iter = 10)
SELECT doc.doc_id,
       ROUND(COALESCE(f.rank,
                      CASE WHEN s.doc_id IS NOT NULL
                           THEN 0.15 * (SELECT 1.0 / n FROM ns)
                           ELSE 0.0 END)
             * 1000 + 1.23e-9, 6) AS score
FROM documents doc
LEFT JOIN final f USING (doc_id)
LEFT JOIN seeds s ON s.doc_id = doc.doc_id
"""


@_register("doc_quality_propagation", _QUALITY_PROP_ORACLE)
def doc_quality_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized, jaccard-WEIGHTED PageRank seeded on a trusted
    sub-corpus (source='src0'): rank becomes graph proximity to the
    seeds — the quality-propagation primitive web-corpus curation uses
    (trusted-set label propagation).  score = rank × 1000 on the rounded
    lattice with the PAIRED tie-breaker."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import (
        lsh_near_dups,
        lsh_near_dups_quotient,
    )
    from biggraphite_spark.operators.graph import (
        pagerank,
        twin_pagerank_seeded,
    )

    docs = _load_parallel(spark, sf_dir, "documents")
    seeds = docs.filter(F.col("source") == "src0").select("doc_id")
    # seeded/weighted twin quotient: text-group classes refine by the
    # seed flag and edge weights are class-level (the verified Jaccard
    # depends only on the two texts), so the iteration runs on the
    # refined class graph with constant shares
    q = lsh_near_dups_quotient(docs, threshold=0.5, with_weights=True)
    if q is not None:
        pr = twin_pagerank_seeded(q[0], q[1], docs.select("doc_id"), seeds)
    else:
        # cached: the two-direction union references the pair subtree twice
        pairs = lsh_near_dups(docs, threshold=0.5).cache()
        edges = pairs.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
            F.col("jaccard").alias("w"),
        ).unionByName(pairs.select(
            F.col("doc_b").alias("a"), F.col("doc_a").alias("b"),
            F.col("jaccard").alias("w"),
        ))
        pr = pagerank(edges, docs.select("doc_id"), weight_col="w", seeds=seeds)
    return pr.select(
        "doc_id",
        F.round(F.col("rank") * 1000 + 1.23e-9, 6).alias("score"),
    )


def _lsh_capped_edges_ctes(d: int, k: int = 16, bands: int = 4) -> str:
    """LSH edge CTEs with the per-node fanout cap of
    ``dedup.cap_pair_fanout``: weighted pairs -> symmetrize -> per-node
    top-d by (jaccard desc, partner asc) -> canonical-pair dedup ->
    symmetric edges.  Weights are the rounded-jaccard lattice, so the
    rank order is engine-portable."""
    base = _lsh_edges_ctes(k=k, bands=bands)
    # rebuild the pairs CTE carrying the rounded jaccard weight
    base = base.replace(
        """pairs AS (SELECT doc_a, doc_b
          FROM (SELECT doc_a, doc_b, len(list_intersect(da.sh, db.sh)) AS shared,
                       len(da.sh) AS na, len(db.sh) AS nb
                FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
          WHERE shared * 1.0 / (na + nb - shared) >= 0.5),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs)""",
        f"""pairsw AS (SELECT doc_a, doc_b,
                 ROUND(shared * 1.0 / (na + nb - shared), 6) AS w
          FROM (SELECT doc_a, doc_b, len(list_intersect(da.sh, db.sh)) AS shared,
                       len(da.sh) AS na, len(db.sh) AS nb
                FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
          WHERE shared * 1.0 / (na + nb - shared) >= 0.5),
sym AS (SELECT doc_a AS node, doc_b AS partner, w FROM pairsw
        UNION ALL SELECT doc_b, doc_a, w FROM pairsw),
capd AS (SELECT LEAST(node, partner) AS doc_a,
                GREATEST(node, partner) AS doc_b, MAX(w) AS w
         FROM (SELECT node, partner, w,
                      row_number() OVER (PARTITION BY node
                                         ORDER BY w DESC, partner ASC) AS rk
               FROM sym)
         WHERE rk <= {d} GROUP BY 1, 2),
edges AS (SELECT doc_a AS a, doc_b AS b FROM capd
          UNION ALL SELECT doc_b, doc_a FROM capd)""",
    )
    if "capd" not in base:
        raise AssertionError(
            "_lsh_capped_edges_ctes: pairs-CTE replacement did not fire — "
            "_lsh_edges_ctes' text changed; update the template here too"
        )
    return base


_PAGERANK_CAPPED_ORACLE = f"""
WITH RECURSIVE
{_lsh_capped_edges_ctes(3)},
deg AS (SELECT a, CAST(count(*) AS DOUBLE) AS outd FROM edges GROUP BY a),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
pr AS (
  SELECT 0 AS iter, doc_id, (SELECT 1.0 / n FROM nn) AS rank FROM documents
  UNION ALL
  SELECT pr.iter + 1, e.b AS doc_id,
         (SELECT 0.15 / n FROM nn) + 0.85 * sum(pr.rank / deg.outd)
  FROM pr JOIN edges e ON e.a = pr.doc_id JOIN deg ON deg.a = e.a
  WHERE pr.iter < 10
  GROUP BY pr.iter, e.b
)
SELECT doc.doc_id,
       ROUND(COALESCE(p.rank, (SELECT 0.15 / n FROM nn))
             * (SELECT n FROM nn) + 1.23e-9, 6) AS score
FROM documents doc
LEFT JOIN (SELECT doc_id, rank FROM pr WHERE iter = 10) p USING (doc_id)
"""


@_register("doc_pagerank_capped", _PAGERANK_CAPPED_ORACLE)
def doc_pagerank_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-centrality over the DEGREE-CAPPED near-dup graph:
    per-node pair fanout limited to the top-3 incident pairs by
    (jaccard desc, partner asc), kept if ranked by EITHER endpoint
    (dedup.cap_pair_fanout), then the same 10-iteration PageRank as
    doc_pagerank.  The cap is the boilerplate-clique guard real corpora
    need — a near-dup clique of c documents contributes c² pair-graph
    edges and every graph fixpoint rides Σ deg², so templated/cloned
    content otherwise dominates the round cost.  Capping bounds edges at
    3N while keeping each node's strongest similarities; this contract
    pins the capped edge-selection semantics end-to-end."""
    _utc(spark)
    from biggraphite_spark.operators.graph import neardup_pagerank

    return neardup_pagerank(
        _load_parallel(spark, sf_dir, "documents"), max_degree=3
    )


@_register("doc_pagerank", _PAGERANK_ORACLE)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-centrality scoring: 10-iteration PageRank over the
    SYMMETRIC MinHash-LSH near-dup graph (operators/graph.py) — the
    web-corpus practice of weighting pages by link centrality applied to
    the similarity graph, so dedup representatives are chosen by
    importance instead of arbitrary min-id.  score = rank × N (isolated
    doc ≈ 0.15, hubs above 1).  The oracle replays signature → banding →
    verify → the full iteration as ONE recursive CTE; isolated nodes are
    exact via the teleport coalesce because the graph is symmetric
    (every node with an out-edge has an in-edge, so only edge-free nodes
    ever leave the recursion).  The +1.23e-9 is the documented PAIRED
    tie-breaker (_series_cte) — per-node sums are FP-association-
    sensitive."""
    _utc(spark)
    from biggraphite_spark.operators.graph import neardup_pagerank

    return neardup_pagerank(_load_parallel(spark, sf_dir, "documents"))


@_register("emb_pca", _twin("emb_pca_sql"))  # python-twin literal oracle
def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA with EXACT-arithmetic sufficient statistics
    (operators/pca.py): embeddings fixed-point quantized, Gram/sum/count
    accumulated in int64 (one Arrow pass, one synopsis per partition, a
    d²-key integer agg — order-free by construction), the d×d eigensolve
    driver-side on exact inputs, projection a broadcast-literal zip_with
    fold.  The twin replays the identical pipeline in plain numpy — the
    int64 moments make the two accumulation orders provably equal, which
    is what upgrades a textbook-nondeterministic operator to a
    hash-matched contract.  Output: top-2 principal scores per vector."""
    _utc(spark)
    from biggraphite_spark.operators.pca import pca_fit, pca_project

    emb = _load_parallel(spark, sf_dir, "embeddings")
    comps, offsets, _eigs = pca_fit(emb, "embedding", k=2)
    proj = pca_project(emb, comps, offsets, "embedding")
    return proj.select(
        "vec_id",
        F.round(F.col("pc1") + 1.23e-9, 6).alias("pc1"),
        F.round(F.col("pc2") + 1.23e-9, 6).alias("pc2"),
    )


@_register("emb_whiten", _twin("emb_whiten_sql"))  # python-twin literal oracle
def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening (operators/pca.py): principal scores rescaled to
    unit variance per retained direction — the embedding
    pre-conditioning step SemDeDup-style pipelines run before
    cosine-threshold dedup so one dominant direction can't drown the
    rest.  Inherits emb_pca's exact-moment determinism; the whitening
    scales are driver doubles the twin multiplies by verbatim."""
    _utc(spark)
    from biggraphite_spark.operators.pca import pca_fit, pca_whiten

    emb = _load_parallel(spark, sf_dir, "embeddings")
    comps, offsets, eigs = pca_fit(emb, "embedding", k=2)
    wh = pca_whiten(emb, comps, offsets, eigs, "embedding")
    return wh.select(
        "vec_id",
        F.round(F.col("w1") + 1.23e-9, 6).alias("w1"),
        F.round(F.col("w2") + 1.23e-9, 6).alias("w2"),
    )


_TRIANGLES_ORACLE = f"""
WITH
{_lsh_edges_ctes()},
tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
pn AS (SELECT unnest([x, y, z]) AS doc_id FROM tri),
tcnt AS (SELECT doc_id, count(*) AS triangles FROM pn GROUP BY 1),
deg AS (SELECT a AS doc_id, count(*) AS degree FROM edges GROUP BY 1)
SELECT doc.doc_id,
       CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree,
       CAST(COALESCE(tcnt.triangles, 0) AS BIGINT) AS triangles,
       ROUND(CASE WHEN COALESCE(deg.degree, 0) >= 2
                  THEN COALESCE(tcnt.triangles, 0)
                       / (deg.degree * (deg.degree - 1) / 2.0)
                  ELSE 0.0 END + 1.23e-9, 6) AS clustering_coeff
FROM documents doc
LEFT JOIN deg USING (doc_id)
LEFT JOIN tcnt USING (doc_id)
"""


@_register("doc_triangles", _TRIANGLES_ORACLE)
def doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count + local clustering coefficient over the
    MinHash-LSH near-dup graph — the cluster-DENSITY signal curation uses
    to tell a duplicated document (clique, coefficient 1) from a chain of
    weakly similar ones (coefficient 0).  Triangles are enumerated once
    each via the ordered node-iterator join (x < y < z) on the canonical
    pair list; three hash joins, no cartesian."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import (
        lsh_near_dups,
        lsh_near_dups_quotient,
    )
    from biggraphite_spark.operators.graph import triangle_stats

    docs = _load_parallel(spark, sf_dir, "documents")
    # the twin quotient read straight off the dedup text collapse: the
    # closed-form expansion never enumerates a clique triangle (the probe
    # declines on diverse corpora and the expanded flow takes over)
    q = lsh_near_dups_quotient(docs, threshold=0.5)
    if q is not None:
        return triangle_stats(None, docs.select("doc_id"), quotient=q)
    # the pair subtree feeds e1/e2/e3 and the degree union — cache it
    pairs = lsh_near_dups(docs, threshold=0.5).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).cache()
    return triangle_stats(pairs, docs.select("doc_id"))


_KCORE_K = 2
_KCORE_ROUNDS = 8

_KCORE_ORACLE = f"""
WITH RECURSIVE
{_lsh_edges_ctes()},
gnodes AS (SELECT DISTINCT a AS v FROM edges),
surv AS (
  SELECT 0 AS iter, v FROM gnodes
  UNION ALL
  SELECT s.iter + 1, s.v FROM surv s
  WHERE s.iter < {_KCORE_ROUNDS}
    AND (SELECT count(*) FROM edges e
         JOIN surv s2 ON s2.v = e.b AND s2.iter = s.iter
         WHERE e.a = s.v) >= {_KCORE_K}
),
fin AS (SELECT v FROM surv WHERE iter = {_KCORE_ROUNDS}),
cdeg AS (SELECT e.a AS v, count(*) AS core_degree
         FROM edges e JOIN fin fa ON fa.v = e.a JOIN fin fb ON fb.v = e.b
         GROUP BY 1)
SELECT doc.doc_id,
       cdeg.v IS NOT NULL AS in_core,
       CAST(COALESCE(cdeg.core_degree, 0) AS BIGINT) AS core_degree
FROM documents doc
LEFT JOIN cdeg ON cdeg.v = doc.doc_id
"""


@_register("doc_kcore", _KCORE_ORACLE)
def doc_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel (k=2) of the near-dup graph: iteratively strip nodes
    with < 2 surviving neighbors, leaving the DENSE duplication cores —
    the subgraphs worth aggressive dedup — while pendant/chain matches
    fall away.  The contract pins the bounded {_KCORE_ROUNDS}-round peel
    (deterministic at every scale; equal to the true k-core whenever the
    peeling depth ≤ {_KCORE_ROUNDS} — the operator's default mode peels
    to the fixpoint); the oracle replays the peel as an iteration-counter
    recursive CTE."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import (
        lsh_near_dups,
        lsh_near_dups_quotient,
    )
    from biggraphite_spark.operators.graph import kcore

    docs = _load_parallel(spark, sf_dir, "documents")
    # twin quotient off the dedup text collapse: the peel runs over class
    # edges with integer weights, bit-identical surviving degrees
    q = lsh_near_dups_quotient(docs, threshold=0.5)
    if q is not None:
        return kcore(None, docs.select("doc_id"), k=_KCORE_K,
                     rounds=_KCORE_ROUNDS, quotient=q)
    pairs = lsh_near_dups(docs, threshold=0.5).cache()
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(pairs.select(
        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
    ))
    return kcore(edges, docs.select("doc_id"), k=_KCORE_K,
                 rounds=_KCORE_ROUNDS)


_HITS_T = 3

_HITS_ORACLE = f"""
WITH RECURSIVE
{_lsh_edges_ctes()},
de AS (SELECT doc_b AS src, doc_a AS dst FROM pairs),
hub AS (
  SELECT 0 AS iter, doc_id, CAST(1 AS BIGINT) AS hub FROM documents
  UNION ALL
  SELECT h.iter + 1, e2.src AS doc_id, CAST(sum(h.hub) AS BIGINT) AS hub
  FROM hub h
  JOIN de e1 ON e1.src = h.doc_id
  JOIN de e2 ON e2.dst = e1.dst
  WHERE h.iter < {_HITS_T}
  GROUP BY h.iter, e2.src
),
hf AS (SELECT doc_id, hub FROM hub WHERE iter = {_HITS_T}),
af AS (SELECT e.dst AS doc_id, CAST(sum(h.hub) AS BIGINT) AS auth
       FROM hub h JOIN de e ON e.src = h.doc_id
       WHERE h.iter = {_HITS_T - 1}
       GROUP BY 1)
SELECT doc.doc_id,
       CAST(COALESCE(hf.hub, 0) AS BIGINT) AS hub,
       CAST(COALESCE(af.auth, 0) AS BIGINT) AS auth
FROM documents doc
LEFT JOIN hf USING (doc_id)
LEFT JOIN af USING (doc_id)
"""


@_register("doc_hits", _HITS_ORACLE)
def doc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over the DIRECTED
    duplication-provenance graph: each near-dup pair points later →
    earlier (doc_b → doc_a), so authorities are the ORIGINALS many later
    documents copy and hubs are the heavy copiers — the provenance signal
    that picks canonical sources during dedup.  Runs the UNNORMALIZED
    power iteration in pure integer arithmetic (operators/graph.py), so
    scores are exact longs and the oracle replays hubᵀ = (A·Aᵀ)ᵀ·hub as
    one recursive CTE with zero floating point anywhere."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import lsh_near_dups
    from biggraphite_spark.operators.graph import hits

    docs = _load_parallel(spark, sf_dir, "documents")
    pairs = lsh_near_dups(docs, threshold=0.5)
    edges = pairs.select(
        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
    )
    return hits(edges, docs.select("doc_id"), iterations=_HITS_T)


_QUOTA_TABLE = {"en": 40, "de": 25, "zh": 15}

_QUOTA_ORACLE = f"""
WITH k AS (SELECT doc_id, lang,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
           FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY sample_key, doc_id) AS rk
      FROM k)
SELECT doc_id, lang, sample_key FROM r
WHERE {" OR ".join(f"(lang = '{s}' AND rk <= {n})" for s, n in _QUOTA_TABLE.items())}
"""


@_register("doc_quota_sample", _QUOTA_ORACLE)
def doc_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size stratified sampling (operators/sampling.py
    quota_sample): per language, the n smallest md5 keys win — the form
    data-mixing specs are written in ("exactly N docs per source"),
    complementing doc_sample's expected-rate filter.  rank<=n compiles to
    WindowGroupLimit (per-partition top-n before the shuffle).  Strata
    absent from the quota table (fr, es here) are dropped."""
    _utc(spark)
    from biggraphite_spark.operators.sampling import quota_sample

    return quota_sample(
        _load_parallel(spark, sf_dir, "documents"), _QUOTA_TABLE
    )


_WSAMPLE_N = 50

_WSAMPLE_ORACLE = f"""
WITH h AS (SELECT doc_id, n_chars,
        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          AS h
       FROM documents),
p AS (SELECT doc_id, n_chars,
             ROUND(power((h + 1) / 4294967296.0, 1.0 / n_chars) + 1.23e-9, 6)
               AS priority
      FROM h),
r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rk
      FROM p)
SELECT doc_id, n_chars, priority FROM r WHERE rk <= {_WSAMPLE_N}
"""


@_register("doc_weighted_sample", _WSAMPLE_ORACLE)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    operators/sampling.py weighted_sample): deterministic md5-uniform
    priorities u^(1/weight), global top-50 by length-weighted priority —
    the reproducible "sample proportional to token count" draw a
    training-data release runs.  The pow output is rounded to the
    6-decimal lattice with the documented paired tie-breaker BEFORE
    ranking (doc_id total-order tie-break), so a last-ulp libm
    disagreement cannot change the sample set."""
    _utc(spark)
    from biggraphite_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _load_parallel(spark, sf_dir, "documents"), "n_chars", _WSAMPLE_N
    )


_TRANSITIONS_ORACLE = f"""
WITH e AS (SELECT user_id, event_id, event_type, {ORACLE_TS} AS sec FROM events),
p AS (SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY sec, event_id) AS to_type
      FROM e),
c AS (SELECT from_type, to_type, count(*) AS n FROM p
      WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       ROUND(n * 1.0 / sum(n) OVER (PARTITION BY from_type) + 1.23e-9, 6) AS p
FROM c
"""


@_register("events_transitions", _TRANSITIONS_ORACLE)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (operators/funnel.py event_transitions): (from → to) counts and
    row-normalized probabilities — next-action priors / anomaly baselines.
    One lead() window (single user-key shuffle) + one matrix-sized hash
    agg; (ts, event_id) is the deterministic in-user total order."""
    _utc(spark)
    from biggraphite_spark.operators.funnel import event_transitions
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id", "event_id", "event_type",
        event_ts_seconds(ev).alias("sec"),
    )
    return event_transitions(e)


_PATH_DEPTH = 8
_PATH_TOP = 20

_PATHS_ORACLE = f"""
WITH e AS (SELECT user_id, event_id, event_type, {ORACLE_TS} AS sec FROM events),
r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS rk
      FROM e),
p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rk) AS path
      FROM r WHERE rk <= {_PATH_DEPTH} GROUP BY user_id),
c AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1),
t AS (SELECT path, CAST(n_users AS BIGINT) AS n_users,
             row_number() OVER (ORDER BY n_users DESC, path ASC) AS rk
      FROM c)
SELECT path, n_users, CAST(rk AS BIGINT) AS rk FROM t WHERE rk <= {_PATH_TOP}
"""


@_register("events_entry_paths", _PATHS_ORACLE)
def events_entry_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top entry journeys (operators/funnel.py entry_paths): each user's
    first {_PATH_DEPTH} events as a '>'-joined path, top {_PATH_TOP}
    paths by user count — onboarding-flow mining.  The depth cap bounds
    the path string at every scale; rank<=depth compiles to
    WindowGroupLimit."""
    _utc(spark)
    from biggraphite_spark.operators.funnel import entry_paths
    from biggraphite_spark.sources.events import event_ts_seconds, load_events

    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id", "event_id", "event_type",
        event_ts_seconds(ev).alias("sec"),
    )
    return entry_paths(e, depth=_PATH_DEPTH, top=_PATH_TOP)


_EDIT_VERIFY_ORACLE = f"""
WITH
{_lsh_edges_ctes()},
v AS (SELECT doc_a, doc_b,
             levenshtein(da.text, db.text) AS dist,
             greatest(length(da.text), length(db.text)) AS longer
      FROM cand
      JOIN documents da ON da.doc_id = doc_a
      JOIN documents db ON db.doc_id = doc_b)
SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS edit_distance,
       ROUND(dist * 1.0 / longer + 1.23e-9, 6) AS rel_dist
FROM v
WHERE ROUND(dist * 1.0 / longer + 1.23e-9, 6) <= 0.4
"""


@_register("doc_edit_verify", _EDIT_VERIFY_ORACLE)
def doc_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verify (operators/dedup.py
    lsh_edit_verify): TRUE edit distance, computed ONLY on the MinHash-LSH
    banded candidate pairs — the O(len²) levenshtein DP is confined to the
    candidate set, so the operator scales with the (bounded) collision
    rate, not the corpus.  Catches the small-in-place-edit near-dup class
    shingle Jaccard under-weights.  Distances are engine-exact integers;
    the relative distance is rounded on the shared lattice before the
    ≤0.4 keep filter so the SET decision is tie-stable."""
    _utc(spark)
    from biggraphite_spark.operators.dedup import lsh_edit_verify

    return lsh_edit_verify(_load_parallel(spark, sf_dir, "documents"))


_RAG_SIZE = 32
_RAG_OVERLAP = 8
_RAG_STRIDE = _RAG_SIZE - _RAG_OVERLAP

_RAG_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
idx AS (SELECT doc_id, toks,
               unnest(generate_series(0,
                 CASE WHEN len(toks) <= {_RAG_SIZE} THEN 0
                      ELSE CAST(ceil((len(toks) - {_RAG_SIZE}) * 1.0
                                     / {_RAG_STRIDE}) AS INT) END)) AS chunk_id
        FROM t)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(list_slice(toks, chunk_id * {_RAG_STRIDE} + 1,
                                  chunk_id * {_RAG_STRIDE} + {_RAG_SIZE}),
                       ' ') AS chunk_text,
       CAST(least({_RAG_SIZE}, len(toks) - chunk_id * {_RAG_STRIDE}) AS BIGINT)
         AS n_tokens
FROM idx
"""


@_register("doc_rag_chunks", _RAG_ORACLE)
def doc_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunking (operators/curation.py rag_chunks):
    {_RAG_SIZE}-token windows, {_RAG_OVERLAP}-token overlap — the RAG
    indexing pre-step; the final window always reaches the last token.
    One projection + posexplode, zero shuffle."""
    _utc(spark)
    from biggraphite_spark.operators.curation import rag_chunks

    return rag_chunks(
        _load_parallel(spark, sf_dir, "documents"),
        size=_RAG_SIZE, overlap=_RAG_OVERLAP,
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return bg_fetch_1d(spark, "/root/testdata/sf0.001")


#: Names with a green row in a past driver CORRECTNESS gate (r1 ∪ … ∪ r8 —
#: every registered query has now been driver-checked green at least once).
#: The driver checks the first 50 registered queries per round, so
#: ``queries()`` front-loads everything NOT in this set — new round-6
#: additions get gate slots first.  Correctness itself is order-independent;
#: this only rotates which queries the driver's 50-query window lands on.
_DRIVER_GREEN = frozenset({
    "doc_edit_verify", "doc_hits", "doc_kcore", "doc_pagerank",
    "doc_pagerank_capped", "doc_quality_propagation", "doc_quota_sample",
    "doc_rag_chunks", "doc_representatives", "doc_simhash_pairs64",
    "doc_triangles", "doc_weighted_sample", "emb_pca", "emb_whiten",
    "events_entry_paths", "events_hll", "events_transitions",
    "gr_compress_gaps", "gr_group_by_tags", "gr_map_series",
    "gr_series_lists", "gr_target_expr3",
    "bg_series_by_tag", "bg_tag_values",
    "bg_carbonlink", "bg_catalog", "bg_clean", "bg_cluster_diff",
    "bg_copy_2h", "bg_downsample_1d", "bg_downsample_1h",
    "bg_downsample_dupslots", "bg_du", "bg_fetch_1d", "bg_find",
    "bg_find_dirs", "bg_find_dirs_globstar", "bg_find_timerange",
    "bg_gapfill_1d", "bg_latest_metadata", "bg_read_aligned", "bg_repair",
    "bg_stats", "bg_xff_1d", "doc_bigram_lm", "doc_bm25", "doc_bpe_tokens",
    "doc_bpe_vocab", "doc_chunk_dedup", "doc_chunk_neardup",
    "doc_collocations", "doc_containment", "doc_contamination",
    "doc_corpus_novel", "doc_curate", "doc_dataset_card",
    "doc_dedup_cross_source", "doc_dedup_exact", "doc_dedup_minhash_lsh",
    "doc_dedup_ngram", "doc_dup_clusters", "doc_dup_clusters_star",
    "doc_fingerprint", "doc_keywords_rake", "doc_lang_id",
    "doc_lsh_recall", "doc_mix_weights", "doc_nb_lang",
    "doc_ngram_novelty", "doc_normalize", "doc_pack", "doc_perplexity",
    "doc_quality_rules", "doc_repetition", "doc_sample", "doc_simhash",
    "doc_simhash_pairs", "doc_source_overlap", "doc_split_leakage_free",
    "doc_substring_dup", "doc_text_stats", "doc_token_advanced",
    "doc_winnowing", "emb_ann_filtered", "emb_ann_ivf", "emb_ann_ivfpq",
    "emb_ann_lsh", "emb_ann_recall", "emb_centroids", "emb_cosine_topk",
    "emb_kmeans", "emb_neardup", "emb_pq", "emb_quantize", "emb_rp_recall",
    "emb_semdedup", "emb_truncate_recall", "events_anomaly",
    "events_asof_join", "events_attribution", "events_cohort",
    "events_distinct_kmv", "events_funnel", "events_funnel_windowed",
    "events_heavy_hitters", "events_json_props", "events_kmv_merge",
    "events_latency_hist", "events_pivot", "events_quantiles",
    "events_range_join", "events_rollup", "events_session_window",
    "events_sessionize", "events_topk_users", "gr_anomaly_seasonal",
    "gr_ema", "gr_filter_select", "gr_holt_winters", "gr_interp_arith",
    "gr_moving_deriv", "gr_rate_shift", "gr_ratio_pct", "gr_reduce",
    "gr_render_misc", "gr_render_tail", "gr_seasonal",
    "gr_select_transform", "gr_series_combine", "gr_sort_limit",
    "gr_summarize_ffill", "gr_target_expr", "gr_target_expr2",
    "gr_topk_series", "gr_window_stats", "gr_zscore", "mm_ahash",
    "mm_ahash_neardups", "mm_audio", "mm_decode", "mm_features",
    "mm_frames", "mm_resize", "tpch_q1", "tpch_q10", "tpch_q11",
    "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17",
    "tpch_q18", "tpch_q19", "tpch_q2", "tpch_q20", "tpch_q21", "tpch_q22",
    "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q8",
    "tpch_q9",
})


#: Green-tag EVICTION (round-9 VERDICT process gap): a green tag certifies
#: the implementation that was checked, so a query whose operator was
#: REWRITTEN since its last driver check must rejoin the front of the
#: 50-slot window.  Listed here: the round-9 post-window rewrites
#: (text-collapse of the LSH/simhash/edit-verify builders, adaptive
#: emb_neardup collapse) and the round-10 twin-quotient graph family.
_REWRITTEN_SINCE_GREEN = frozenset({
    # r9 commits 84a6bf0/8a2fd4c/982ce3b landed after the r9 gate window
    "doc_edit_verify", "doc_dedup_minhash_lsh", "doc_lsh_recall",
    "doc_simhash", "doc_simhash_pairs", "doc_simhash_pairs64",
    "emb_neardup",
    # r10: twin-class quotient for the graph family + dup_clusters
    "doc_triangles", "doc_kcore", "doc_pagerank", "doc_pagerank_capped",
    "doc_representatives", "doc_dup_clusters", "doc_dup_clusters_star",
    "doc_quality_propagation",
    # r10: dedup-provided quotient (lsh_near_dups_quotient) threaded into
    # chunk_neardup's closed-form dropped set and leakage_free_split's
    # dup_clusters path
    "doc_chunk_neardup", "doc_split_leakage_free",
    # r10: narrow-key distinct in _tagged_catalog (shared by both)
    "bg_series_by_tag", "bg_tag_values",
})


def _gate_order(names: list[str]) -> list[str]:
    green = _DRIVER_GREEN - _REWRITTEN_SINCE_GREEN
    unchecked = [n for n in names if n not in green]
    checked = [n for n in names if n in green]
    return unchecked + checked


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in _gate_order(list(_QUERIES))}


def registry_order() -> list[str]:
    """Registration order, UNROTATED: the gate rotation above exists for
    the driver's 50-slot correctness window, but bench.py must not chunk
    by it — rotating 20 rewritten names to the front packs the heaviest
    codegen plans into one measurement JVM and shifts every other query's
    chunk neighborhood (measured: same tree, same box, same day, the
    rotated order benches 437.7s vs 343.9s unrotated at sf0.1 — pure
    JIT-position effect, PERF.md finding 18).  Registration order is
    stable across green-set rotations, so per-round bench records stay
    comparable."""
    return list(_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = {}
    for n in _gate_order(list(_QUERIES)):
        o = _ORACLES.get(n)
        if o is None:
            continue
        if callable(o):
            # a twin that fails to materialize (missing test data, etc.)
            # must degrade THAT query to rows-only, not error the whole
            # oracle map — the r2 bench crash taught this failure mode
            try:
                out[n] = o()
            except Exception as ex:  # noqa: BLE001
                # degrading silently would make a broken twin look like a
                # deliberately-missing oracle; say which query and why
                print(
                    f"oracle_sql: twin for {n!r} failed "
                    f"({type(ex).__name__}: {ex}); degrading to rows-only",
                    file=sys.stderr,
                )
                continue
        else:
            out[n] = o
    return out
