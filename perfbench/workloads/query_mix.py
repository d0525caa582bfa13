"""query_mix: a fixed mix of relational ``queries.catalog`` entries, the
only read-only, analyst-facing workload.

One request is one entry, materialized to the ``noop`` sink. The mix
leaves out the MinHash/BM25 entries (no dedup work here) and the entries
that ride a session memo (their repeat timings are memo hits). The
corpus is fixed (``perfbench.corpus``, seed 42); the run's seed only
permutes the request order, a fresh permutation of the mix per pass.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

from devcontainers_etl_node_spark.queries.catalog import ORACLE, QUERIES

from perfbench.common import OpResult, require
from perfbench.corpus import write_corpus

MIX = (
    "pricing_summary",    # scan + aggregate (TPC-H Q1 shape)
    "revenue_by_nation",  # join + aggregate
    "star_enrich",        # star join, the reference's flagship shape
    "window_running",     # partitioned running window
    "topk_per_group",     # per-group top-k
    "sessionize",         # lag + running-sum sessionization
    "events_hourly",      # tumbling-window rollup
    "asof_join",          # as-of join
)
SIZES = {"full": {"scale": 0.05}, "tiny": {"scale": 0.002}}
CORPUS_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames: list[str]) -> str:
    """Order-insensitive hash of a result, columns sorted by name: the
    match ``tools/verify_oracle.py`` applies, copied because importing
    that script puts a fixed directory first on ``sys.path``."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class QueryMix:
    name = "query_mix"
    item = "queries"
    # trace whole passes, so every entry gets traced requests
    trace_block = len(MIX)

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.sf_dir = os.path.join(work, "corpus")
        self.scale = SIZES[size]["scale"]
        self.rng = random.Random(seed)
        self.order: list[str] = []

    def generate(self) -> int:
        return write_corpus(self.sf_dir, self.scale, CORPUS_SEED)

    def _next(self) -> str:
        if not self.order:
            self.order = list(MIX)
            self.rng.shuffle(self.order)
        return self.order.pop()

    def warm_up(self) -> None:
        for name in MIX:
            self._run(name)

    def _run(self, name: str) -> None:
        QUERIES[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def op(self, i: int, tr) -> OpResult:
        name = self._next()
        with tr.span(f"queries.{name}"):
            self._run(name)
        return OpResult(items=1)

    def check(self) -> dict:
        """Every entry matches its DuckDB oracle once: row count, column
        names and value hash."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            rows = {}
            for name in MIX:
                sdf = QUERIES[name](self.spark, self.sf_dir)
                srows = sdf.collect()
                res = con.execute(ORACLE[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                require(len(srows) == len(orows), f"{name}: {len(srows)} rows, oracle {len(orows)}")
                require(sorted(sdf.columns) == sorted(ocols), f"{name}: columns {sdf.columns} vs {ocols}")
                require(
                    value_hash(srows, sdf.columns) == value_hash(orows, ocols),
                    f"{name}: value hash differs from the DuckDB oracle",
                )
                rows[name] = len(srows)
        finally:
            con.close()
        return {"oracle_match": rows}

    def layer_metrics(self, stats) -> dict:
        return {f"queries.{name}_s": stats.per_call(f"queries.{name}", "wall_s") for name in MIX}
