"""``render`` workload: dashboards reading through the graphite HTTP server.

The server is the one ``bgspark graphite_web`` serves:
``make_graphite_server(GraphiteWeb(cli.build_engine(spark, data_dir)))``.
Two clients run a closed loop (next request as soon as the reply is read)
over a seeded request mix; every reply is checked.  After the measured
window one more pair of requests checks ``sumSeries`` against the
pointwise sum of its members.
"""

from __future__ import annotations

import http.client
import itertools
import json
import math
import sys
import threading
import time
from urllib.parse import urlencode

import numpy as np

from .checks import check_render_grid, check_sum_series
from .stats import geomean, median, percentile, tail_percentile

TABLES = dict(n_events=100_000, n_users=1500)
EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
CLIENTS = 2
MAX_POINTS = 500
#: request templates in the order one cycle of the mix issues them: three
#: finds for five renders; raw-stage (1 s) windows stay short, longer
#: windows are served from the 1 h stage
CYCLE = ("find", "raw", "sum", "find", "moving_alias", "holtwinters", "find", "wide")
TEMPLATES = ("find", "raw", "sum", "moving_alias", "holtwinters", "wide")


def request_mix(seed: int, n: int, n_users: int) -> list[tuple[str, str, dict]]:
    """``n`` seeded requests ``(template, path, query)`` following CYCLE.

    Two in three finds use a glob not asked before (so most finds miss the
    find cache); the rest repeat ``bg.*`` or an earlier glob."""
    rng = np.random.default_rng(seed)
    asked: list[str] = []
    out = []
    for template in itertools.islice(itertools.cycle(CYCLE), n):
        kind = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
        group = f"bg.{kind}.u{int(rng.integers(1, 10))}?"  # ten series
        if template == "find":
            if len(asked) % 3 == 2 or not asked:
                query = "bg.*" if rng.random() < 0.5 or not asked else asked[
                    int(rng.integers(0, len(asked)))]
            else:
                query = f"bg.{kind}.u{int(rng.integers(1, n_users))}*"
            asked.append(query)
            out.append((template, "/metrics/find", {"query": query}))
            continue
        target, frm = {
            "raw": (f"bg.{kind}.u{int(rng.integers(0, n_users))}", "-6h"),
            "sum": (f"sumSeries({group})", "-40d"),
            "moving_alias": (f"aliasByNode(movingAverage({group},10),1,2)", "-40d"),
            "holtwinters": (f"holtWintersForecast({group})", "-40d"),
            "wide": (f"highestAverage(bg.{kind}.*,5)", "-40d"),
        }[template]
        out.append((template, "/render",
                    {"target": target, "from": frm, "maxDataPoints": MAX_POINTS}))
    return out


class Render:
    def __init__(self, spark, data_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.tracer = tracer
        self.server = None
        self.samples: list[dict] = []
        self.extra_problems: list[str] = []

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from biggraphite_spark import cli
        from biggraphite_spark.web import GraphiteWeb, make_graphite_server

        self.close()
        self.app = GraphiteWeb(cli.build_engine(self.spark, self.data_dir))
        self.server = make_graphite_server(self.app)
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        self.now = self.app.engine.now
        self.retention = self.app.engine.retention

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self._thread.join(timeout=30)
            self.server = None

    def warm_up(self) -> None:
        """One request per template, all at once, then one unrecorded cycle
        of the closed loop with twice the clients: the JIT, the Python
        workers and Spark's caches are warmer before the measured window (a
        dashboard server runs for days, so its users see the warm
        figures)."""
        mix = request_mix(self.seed + 1, len(CYCLE), TABLES["n_users"])
        first = {t: r for t, *r in reversed(mix)}
        t0 = time.perf_counter()
        threads = [threading.Thread(target=self._get, args=r) for r in first.values()]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        t1 = time.perf_counter()
        self._closed_loop(mix, lambda i: i < len(mix), clients=2 * CLIENTS)
        print(f"perfbench: warm-up round {t1 - t0:.1f}s, cycle {time.perf_counter() - t1:.1f}s",
              file=sys.stderr)

    def _closed_loop(self, mix: list, more, clients: int = CLIENTS) -> list[dict]:
        """``clients`` clients each send the next request of ``mix`` as soon
        as their previous reply is read, while ``more(index)`` holds."""
        samples: list[dict] = []
        nxt, lock = itertools.count(), threading.Lock()

        def client():
            while more(i := next(nxt)):
                s = self._one(*mix[i % len(mix)])
                with lock:
                    samples.append(s)

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return samples

    # -- traffic ------------------------------------------------------------
    def _get(self, path: str, query: dict):
        """One request on a fresh connection: (status, body bytes, seconds);
        status 0 when the connection closed without an HTTP response."""
        port = self.server.server_address[1]
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        t0 = time.perf_counter()
        try:
            conn.request("GET", f"{path}?{urlencode(query)}")
            resp = conn.getresponse()
            body = resp.read()
            return resp.status, body, time.perf_counter() - t0
        except (http.client.HTTPException, OSError):
            return 0, b"", time.perf_counter() - t0
        finally:
            conn.close()

    def _window(self, query: dict) -> tuple[int, int, int]:
        start = self.app.parse_time(query.get("from", ""), self.now - 86400)
        end = self.app.parse_time(query.get("until", ""), self.now)
        a_start, a_end, stage = self.retention.align_time_window(start, end, self.now)
        return a_start, a_end, stage.precision

    def _one(self, template: str, path: str, query: dict) -> dict:
        status, body, secs = self._get(path, query)
        s = {"kind": template, "secs": secs, "error": None}
        if status != 200:
            s["error"] = f"{path} {query}: HTTP status {status or 'none (connection closed)'}"
            return s
        try:
            data = json.loads(body)
        except ValueError:
            s["error"] = f"{path} {query}: reply is not json"
            return s
        if path == "/render":
            problems = check_render_grid(data, *self._window(query), MAX_POINTS)
            if problems or not data:
                s["error"] = f"{query['target']}: {(problems or ['no series'])[0]}"
        elif not isinstance(data, list) or not data:
            s["error"] = f"find {query['query']}: no nodes"
        return s

    def run(self, seconds: float) -> None:
        stats0 = dict(self.app.find_cache_stats)
        mix = request_mix(self.seed, 4096, TABLES["n_users"])
        deadline = time.monotonic() + seconds
        self.samples = self._closed_loop(mix, lambda i: time.monotonic() < deadline)
        self.cache = {k: self.app.find_cache_stats[k] - stats0[k] for k in stats0}

    def check(self) -> list[str]:
        """Reply checks ran per request; add the sumSeries identity for one
        seeded glob, fetched in this run over a 1 h-stage window short
        enough to need no consolidation."""
        rng = np.random.default_rng(self.seed + 2)
        glob = f"bg.{EVENT_TYPES[int(rng.integers(0, 5))]}.u{int(rng.integers(1, 10))}?"
        window = {"from": "-40d", "until": "-20d"}
        got = []
        for target in (glob, f"sumSeries({glob})"):
            status, body, _ = self._get("/render", {"target": target, **window})
            got.append(json.loads(body) if status == 200 else None)
        if None in got:
            problems = [f"sumSeries check: HTTP request for {glob} failed"]
        else:
            problems = (check_render_grid(got[0] + got[1], *self._window(window), None)
                        + check_sum_series(*got))
        self.extra_problems = [f"sumSeries({glob}): {p}" for p in problems]
        return [s["error"] for s in self.samples if s["error"]] + self.extra_problems

    @property
    def attempted(self) -> int:
        return len(self.samples) + 1

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples if s["error"]) + (1 if self.extra_problems else 0)

    # -- metrics ------------------------------------------------------------
    def _ok(self, template=None):
        return [s["secs"] for s in self.samples if s["error"] is None
                and (template is None and s["kind"] != "find" or s["kind"] == template)]

    def end_to_end(self) -> dict:
        """Per-template figures combined with the mix's fixed weights, so a
        window that happens to end on a heavy or a light template does not
        move them: the render latency is the geometric mean of the render
        templates' median round trips, and the throughput is the closed
        loop's ``clients / round trip`` over one cycle of the mix, each
        template at its median."""
        seen = {t for t in TEMPLATES if self._ok(t)}  # a template may fail throughout
        renders = [median(self._ok(t)) for t in TEMPLATES if t != "find" and t in seen]
        cycle_s = sum(median(self._ok(t)) for t in CYCLE if t in seen) or math.inf
        return {"op_latency_ms": geomean(renders) * 1000.0,
                "ops_per_s": CLIENTS * len(CYCLE) / cycle_s}

    def per_layer(self, counters: dict) -> dict:
        tr = self.tracer
        n = max(1, len(self.samples))
        out = {f"render.tpl.{t}.p50_ms": median(self._ok(t)) * 1000.0 for t in TEMPLATES}
        renders = self._ok()
        level = tail_percentile(len(renders)) or 0.0
        out.update({
            "render.renders": len(renders),
            "render.tail_pct": level,
            "render.tail_ms": percentile(renders, level) * 1000.0 if level else 0.0,
        })
        inside = tr.total_ms("web.render") + tr.total_ms("web.find_nodes")
        groups = [c for g, c in counters.items() if g.startswith("req.")]
        lookups = self.cache["hits"] + self.cache["misses"]
        out.update({
            "web.self_ms": (sum(s["secs"] for s in self.samples) * 1000.0 - inside) / n,
            "web.find_cache_hit_ratio": self.cache["hits"] / lookups if lookups else 0.0,
            "web.find_cache_lookups": lookups,
            "targets.parse_ms": tr.total_ms("targets.parse") / n,
            "targets.evaluate_ms": tr.total_ms("targets.evaluate") / n,
            "engine.read_ms": tr.total_ms("engine.read") / n,
            "engine.reads_per_request": tr.count("engine.read") / n,
            "find.glob_names_ms": tr.total_ms("find.glob_names") / n,
            "find.directories_ms": tr.total_ms("find.directories") / n,
            "web.collect_ms": tr.total_ms("spark.collect") / n,
            "spark.jobs_per_request": sum(c["jobs"] for c in groups) / n,
            "spark.stages_per_request": sum(c["stages"] for c in groups) / n,
            "spark.tasks_per_request": sum(c["tasks"] for c in groups) / n,
            "spark.job_ms_per_request": sum(c["job_ms"] for c in groups) / n,
            "spark.executor_run_ms_per_request": sum(c["run_ms"] for c in groups) / n,
            "spark.shuffle_bytes_per_request": sum(c["shuffle_bytes"] for c in groups) / n,
        })
        return out

    def instrument(self) -> None:
        """Spans around the public calls a request makes; the outer two
        (``GraphiteWeb.render``/``find_nodes``, on the handler thread) also
        start the request's operation and Spark job group.

        ``Engine.read``, ``evaluate_target`` and ``find_directories`` only
        build DataFrames; the Spark work they describe (fetch, gap-fill,
        downsample, the directory scan) runs in the ``DataFrame.collect``
        that ``GraphiteWeb`` makes, timed as its own span."""
        from biggraphite_spark import engine, web
        from biggraphite_spark.functions import targets
        from biggraphite_spark.operators import find

        tr, sc, ids = self.tracer, self.spark.sparkContext, itertools.count()

        def start_request() -> str:
            group = f"req.{next(ids)}"
            sc.setJobGroup(group, "graphite request")
            return group

        tr.wrap(web.GraphiteWeb, "render", "web.render", start_request)
        tr.wrap(web.GraphiteWeb, "find_nodes", "web.find_nodes", start_request)
        tr.wrap(targets, "parse_target", "targets.parse")
        tr.wrap(targets, "evaluate_target", "targets.evaluate")
        tr.wrap(engine.Engine, "read", "engine.read")
        tr.wrap(engine.Engine, "read_names", "engine.read")
        tr.wrap(engine.Engine, "glob_names", "find.glob_names")
        tr.wrap(find, "find_directories", "find.directories")
        # the session's concrete DataFrame class (pyspark 4 splits it from
        # the pyspark.sql.DataFrame facade)
        tr.wrap(type(self.spark.range(0)), "collect", "spark.collect")
