"""``pipeline`` workload: one batch pass over registered contract queries.

Each query is built from ``__spark_entry__.queries()`` and collected to
pandas; its wall (build + action) is the unit of work.  The run measures
exactly one pass, whatever ``--seconds`` says, so every query is timed cold
(after a generic warm-up) however fast the program gets, and every result
is checked against the query's DuckDB oracle (``__spark_entry__.oracle_sql()``)
evaluated over the same seeded tables.
"""

from __future__ import annotations

import os
import tempfile
import time

from .checks import check_query, query_fingerprint
from .stats import geomean
from .tracing import plan_ms

#: one query per operator module: dedup, bpe, text, similarity,
#: clustering, curation, multimodal, downsample.  The graph fixpoints
#: (k-core, PageRank) cost 15-20 s each on a cold pass, more than the
#: run's time allows
QUERIES = (
    "doc_dedup_minhash_lsh",
    "doc_bpe_vocab",
    "doc_keywords_rake",
    "doc_simhash_pairs",
    "emb_kmeans",
    "doc_curate",
    "mm_frames",
    "bg_downsample_1d",
)
TABLES = dict(n_events=100_000, n_users=1500, n_docs=200, n_vecs=300)


class Pipeline:
    def __init__(self, spark, data_dir: str, tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.samples: list[dict] = []

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()

    def warm_up(self) -> None:
        """Generic JVM and Python-worker warm-up, the same for every query
        (a batch job pays its plans' JIT on each run, so no query runs)."""
        spark = self.spark
        spark.range(1000).selectExpr("sum(id)").collect()
        n = spark.sparkContext.defaultParallelism
        (spark.range(n * 4).repartition(n)
         .mapInPandas(lambda it: (pdf for pdf in it), "id long")
         .write.format("noop").mode("overwrite").save())

    def run(self, seconds: float) -> None:
        """One pass over QUERIES; ``seconds`` is not used (a second pass
        would run warm and mix warm walls into the cold ones)."""
        sc = self.spark.sparkContext
        for name in QUERIES:
            sc.setJobGroup(name, name)
            if self.tracer:
                self.tracer.begin(name)
            s = {"kind": name, "group": name, "error": None}
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.data_dir)
                s["built_at"] = time.time()
                t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
                s.update(build_s=t1 - t0, secs=t2 - t0, result=query_fingerprint(pdf))
                if self.tracer:
                    self.tracer.record("pipeline.build", t0, t1)
                    self.tracer.record("pipeline.action", t1, t2)
                    s["plan_ms"] = plan_ms(df)
            except Exception as ex:  # noqa: BLE001 - a failed query is counted, not fatal
                s.update(secs=time.perf_counter() - t0, error=f"{type(ex).__name__}: {ex}"[:300])
            self.samples.append(s)
        if self.tracer:
            self.tracer.end()
        sc.setJobGroup("bench.idle", "between operations")

    def check(self) -> list[str]:
        """Compare each query's result with its DuckDB oracle over the same
        tables; returns the problems and marks each failed sample."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads={os.cpu_count()}")
            con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
            for t in ("events", "documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            oracles = self.entry.oracle_sql()
            want = {q: query_fingerprint(con.execute(oracles[q]).df()) for q in QUERIES}
        finally:
            con.close()
        problems = []
        for s in self.samples:
            if s["error"] is None:
                p = check_query(s["kind"], s["result"], want[s["kind"]])
                if p:
                    s["error"] = p[0]
            if s["error"] is not None:
                problems.append(f"{s['group']}: {s['error']}")
        return problems

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples if s["error"] is not None)

    # -- metrics ------------------------------------------------------------
    def end_to_end(self) -> dict:
        """Latency: the geometric mean of the query walls, so one slow
        query moves it by its own share only.  Throughput: queries
        completed per second of summed walls."""
        ok = [s for s in self.samples if s["error"] is None]
        return {
            "op_latency_ms": geomean(s["secs"] for s in ok) * 1000.0,
            "ops_per_s": len(ok) / sum(s["secs"] for s in self.samples),
        }

    def per_layer(self, counters: dict) -> dict:
        """Each query's figures; a failed query's stay 0."""
        out = {}
        for s in self.samples:
            if s["error"] is not None:
                continue
            c, q = counters.get(s["group"], {}), f"pipeline.{s['kind']}"
            out.update({
                f"{q}.build_s": s["build_s"],
                f"{q}.action_s": s["secs"] - s["build_s"],
                f"{q}.plan_ms": s["plan_ms"],
                f"{q}.jobs": c.get("jobs", 0),
                f"{q}.jobs_at_build": sum(
                    1 for t in c.get("submitted", []) if t is not None and t <= s["built_at"]),
                f"{q}.stages": c.get("stages", 0),
                f"{q}.shuffle_bytes": c.get("shuffle_bytes", 0),
            })
        return out
