"""incremental_dedup: small appends beside reads on the dedup layers.

Set-up commits a history corpus to a ``sinks.txlog`` table, builds the
bucketed dedup store from it (``persist_shingles=True``, ``store_buckets``,
blocked on ``(lang, source)`` and budget-gated as the CLI's ``dedup``
command defaults) and compacts it. One operation is one ingest step:
append a batch with ``txlog.tx_write(mode="append")``, then run
``incremental.run_incremental_dedup_from_table``; the step ends when the
batch's pairs are committed. ``NEAR_DUP_PCT`` percent of every batch are
near-duplicates of history documents (same ``lang`` and ``source``, last
``EDIT_WORDS`` words replaced), so each step verifies real pairs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from devcontainers_etl_node_spark import funnel
from devcontainers_etl_node_spark.generators.synthetic import gen_documents_zipf
from devcontainers_etl_node_spark.incremental import compact_dedup_store, run_incremental_dedup_from_table
from devcontainers_etl_node_spark.sinks import txlog

from perfbench.common import OpResult, dir_size, require
from perfbench.workloads.curation_funnel import DedupProbe, instrument_dedup, planted_corpus

SIZES = {
    "full": {"history": 10_000, "batch": 500, "batches": 40, "store_buckets": 16},
    "tiny": {"history": 1_000, "batch": 100, "batches": 40, "store_buckets": 4},
}
NEAR_DUP_PCT = 10
EDIT_WORDS = 3
# planted history near-dups the steps must find
MIN_RECALL = 0.9
DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


class IncrementalDedup:
    name = "incremental_dedup"
    item = "docs"

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.seed = spark, seed
        self.n = SIZES[size]
        self.corpus = os.path.join(work, "corpus")
        self.pool = os.path.join(work, "batches")
        self.state = os.path.join(work, "dedup")
        self.lsh = dict(
            block_cols=["lang", "source"],
            max_collisions_per_doc=funnel.DEFAULT_NEARDUP_BUDGET,
            persist_shingles=True,
            store_buckets=self.n["store_buckets"],
        )
        self.next_batch = 0
        self.steps: list[tuple[int, int, int]] = []  # (batch, state version, pairs)
        self.probe = DedupProbe()
        self.compact_s = 0.0

    def generate(self) -> int:
        spark, seed, n = self.spark, self.seed, self.n
        h, b = n["history"], n["batch"]
        history = planted_corpus(spark, h, seed)
        txlog.tx_write(history, self.corpus, mode="overwrite", operation="history")

        fresh = gen_documents_zipf(spark, h + n["batches"] * b, dup_fraction=0.0, seed=seed + 1).filter(
            F.col("doc_id") >= h
        )
        is_dup = F.pmod(F.xxhash64("doc_id", F.lit(17), F.lit(seed)), F.lit(100)) < NEAR_DUP_PCT
        fresh = fresh.withColumn(
            "orig", F.when(is_dup, F.pmod(F.xxhash64("doc_id", F.lit(19), F.lit(seed)), F.lit(h)))
        )
        hist = txlog.tx_read(spark, self.corpus).select(
            F.col("doc_id").alias("orig"),
            F.col("text").alias("h_text"),
            F.col("lang").alias("h_lang"),
            F.col("source").alias("h_source"),
        )
        words = F.split("h_text", " ")
        edited = F.concat_ws(
            " ",
            F.slice(words, 1, F.size(words) - EDIT_WORDS),
            *[F.concat(F.lit(f"e{j}x"), F.col("doc_id").cast("string")) for j in range(EDIT_WORDS)],
        )
        dup = F.col("orig").isNotNull()
        batches = (
            fresh.join(hist, "orig", "left")
            .withColumn("text", F.when(dup, edited).otherwise(F.col("text")))
            .withColumn("lang", F.when(dup, F.col("h_lang")).otherwise(F.col("lang")))
            .withColumn("source", F.when(dup, F.col("h_source")).otherwise(F.col("source")))
            .withColumn("n_chars", F.length("text").cast("long"))
            .withColumn("batch", ((F.col("doc_id") - h) / b).cast("int"))
            .select(*DOC_COLS, "orig", "batch")
        )
        batches.write.mode("overwrite").partitionBy("batch").parquet(self.pool)

        run_incremental_dedup_from_table(spark, self.corpus, self.state, **self.lsh)
        t0 = time.perf_counter()
        compact_dedup_store(spark, self.state)
        self.compact_s = time.perf_counter() - t0
        return dir_size(self.corpus)[0]

    def op(self, i: int, tr) -> OpResult:
        b = self.next_batch
        if b >= self.n["batches"]:
            raise RuntimeError(f"all {b} pre-generated batches used; raise SIZES['batches']")
        self.next_batch += 1
        batch = self.spark.read.parquet(os.path.join(self.pool, f"batch={b}")).select(*DOC_COLS)
        with instrument_dedup(tr, self.probe):
            txlog.tx_write(batch, self.corpus, mode="append", operation="ingest")
            with tr.span("incremental.dedup_step"):
                out = run_incremental_dedup_from_table(self.spark, self.corpus, self.state, **self.lsh)
        self.steps.append((b, out["version"], out["n_pairs"]))
        if tr.enabled:
            self.probe.pairs.append(out["n_pairs"])
        return OpResult(items=self.n["batch"])

    def footprint(self) -> int:
        return dir_size(self.corpus)[0] + dir_size(self.state)[0]

    def check(self) -> dict:
        """Every committed pair touches its step's batch, and the steps
        found the planted history near-duplicates."""
        h, size = self.n["history"], self.n["batch"]
        pool = self.spark.read.parquet(self.pool)
        planted = found = 0
        for b, version, n_pairs in self.steps:
            lo, hi = h + b * size, h + (b + 1) * size
            pairs = {
                (r["id_a"], r["id_b"])
                for r in self.spark.read.parquet(os.path.join(self.state, "pairs", f"run_{version}")).collect()
            }
            require(len(pairs) == n_pairs, f"step {b}: {len(pairs)} committed pairs, reported {n_pairs}")
            stale = [p for p in pairs if not any(lo <= x < hi for x in p)]
            require(not stale, f"step {b}: pairs between already-committed ids {stale[:3]}")
            want = {
                (min(r["orig"], r["doc_id"]), max(r["orig"], r["doc_id"]))
                for r in pool.filter((F.col("batch") == b) & F.col("orig").isNotNull()).collect()
            }
            planted += len(want)
            found += len(want & {(min(p), max(p)) for p in pairs})
        recall = found / planted if planted else 1.0
        require(planted > 0, "no planted near-duplicates in the steps' batches")
        require(recall >= MIN_RECALL, f"planted history near-dup recall {recall:.3f} < {MIN_RECALL}")
        return {"steps": len(self.steps), "planted": planted, "recall": recall}

    def layer_metrics(self, stats) -> dict:
        docs = self.n["history"] + self.next_batch * self.n["batch"]
        traced_pairs = self.probe.pairs
        out = {
            "incremental.dedup_step_s": stats.per_op("incremental.dedup_step", "wall_s"),
            "incremental.compact_s": self.compact_s,
            "incremental.store_bytes_per_doc": dir_size(self.state)[0] / docs,
            "operators.dedup.pairs_per_step": sum(traced_pairs) / max(1, len(traced_pairs)),
        }
        out.update(self.probe.dedup_ratios(new_docs_only=True))
        out.update(self.probe.txlog_metrics())
        return out
