"""curation_funnel: ``funnel.run_staged_funnel`` with its defaults over a
Zipf corpus from ``generators.synthetic.gen_documents_zipf``.

The MinHash near-dup stage (``operators.dedup``), the text operators,
``operators.packing`` and ``sinks.txlog`` overwrite commits do the work;
no source or transform layer runs.

The generator assigns ``lang`` and ``source`` to each document on its
own, so members of one planted near-dup family land in different
``(lang, source)`` blocks and the funnel's default blocking hides most of
them. The corpus here keeps each family in one ``lang`` and one
``source``, except that in ``CROSS_SOURCE_PCT`` percent of the families
the last member is moved to another source: the near-dup stage does real
work, and what blocking costs still shows in recall.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import functions as F

from devcontainers_etl_node_spark import funnel
from devcontainers_etl_node_spark.generators.synthetic import gen_documents_zipf
from devcontainers_etl_node_spark.operators import dedup as dd
from devcontainers_etl_node_spark.sinks import txlog

from perfbench.common import OpResult, dir_size, patched, require, traced_call

SIZES = {"full": {"docs": 2_000}, "tiny": {"docs": 1_000}}
DUP_FRACTION = 0.10
FAMILY_SIZE = 4
CROSS_SOURCE_PCT = 20
# the funnel's near-dup stage runs 32 hashes in 8 bands
BANDS = 8
# planted-family quality the near-dup stage must reach on this corpus
MIN_RECALL = 0.5
MIN_PRECISION = 0.9
# share of a traced pass its stage and report spans may leave uncovered
# beyond the tracing overhead: the span bookkeeping between them, measured
# at about 0.7%
COVERAGE_SLACK = 0.03


def planted_corpus(spark, n: int, seed: int):
    """gen_documents_zipf with family-consistent lang/source (see module
    docstring). Family f is doc ids [f*FAMILY_SIZE, (f+1)*FAMILY_SIZE)
    below ``n * DUP_FRACTION``."""
    docs = gen_documents_zipf(spark, n, dup_fraction=DUP_FRACTION, family_size=FAMILY_SIZE, seed=seed)
    fam = (F.col("doc_id") / FAMILY_SIZE).cast("long")
    planted = F.col("doc_id") < int(n * DUP_FRACTION)
    h_lang = F.pmod(F.xxhash64(fam, F.lit(7), F.lit(seed)), F.lit(10))
    fam_lang = F.when(h_lang < 6, "en").when(h_lang < 9, "de").otherwise("fr")
    src = F.pmod(F.xxhash64(fam, F.lit(11), F.lit(seed)), F.lit(5))
    crosses = (F.pmod(F.xxhash64(fam, F.lit(13), F.lit(seed)), F.lit(100)) < CROSS_SOURCE_PCT) & (
        F.pmod(F.col("doc_id"), F.lit(FAMILY_SIZE)) == FAMILY_SIZE - 1
    )
    fam_source = F.concat(
        F.lit("crawl-"), F.when(crosses, F.pmod(src + 1, F.lit(5))).otherwise(src).cast("string")
    )
    return docs.withColumn("lang", F.when(planted, fam_lang).otherwise(F.col("lang"))).withColumn(
        "source", F.when(planted, fam_source).otherwise(F.col("source"))
    )


def planted_quality(kept_before: set, kept_after: set, n_planted: int) -> dict:
    """Recall and precision of a near-dup stage against planted families:
    of each family's members that reached the stage, all but one should
    be removed, and everything removed should be a planted member."""
    removed = kept_before - kept_after
    want = hit = 0
    for f in range(n_planted // FAMILY_SIZE):
        members = set(range(f * FAMILY_SIZE, (f + 1) * FAMILY_SIZE)) & kept_before
        if len(members) > 1:
            want += len(members) - 1
            hit += min(len(members & removed), len(members) - 1)
    removed_planted = sum(1 for d in removed if d < n_planted)
    return {
        "planted_dups": want,
        "removed": len(removed),
        "recall": hit / want if want else 1.0,
        "precision": removed_planted / len(removed) if removed else 1.0,
    }


class DedupProbe:
    """What the traced operations recorded at the txlog and MinHash
    boundaries."""

    def __init__(self):
        self.traced_ops = 0
        self.census: list[dict] = []
        self.pairs: list[int] = []
        self.writes: list[tuple[str | None, float, int, float]] = []  # (operation, seconds, bytes, end)
        self.starts: list[float] = []  # when each traced funnel pass began

    def per_op(self, total: float) -> float:
        return total / max(1, self.traced_ops)

    def dedup_ratios(self, new_docs_only: bool) -> dict:
        """candidates_per_doc (raw band collisions per signed doc, from
        the census) and pair_yield (verified pairs / raw collisions)."""
        raw = sum(c["raw_band_collisions"] for c in self.census)
        key = "new_banded_rows" if new_docs_only else "banded_rows"
        docs = sum(c[key] for c in self.census) / BANDS
        return {
            "operators.dedup.candidates_per_doc": raw / docs if docs else 0.0,
            "operators.dedup.pair_yield": sum(self.pairs) / raw if raw else 0.0,
        }

    def txlog_metrics(self) -> dict:
        return {
            "sinks.txlog.write_s": self.per_op(sum(w[1] for w in self.writes)),
            "sinks.txlog.bytes": self.per_op(sum(w[2] for w in self.writes)),
        }


@contextlib.contextmanager
def instrument_dedup(tr, probe: DedupProbe):
    """Spans around the program's calls into txlog.tx_write and the
    MinHash operator, recording commit bytes, census volumes and pairs."""
    if not tr.enabled:
        yield
        return
    probe.traced_ops += 1

    def on_write(s, version, args, kwargs):
        root = args[1] if len(args) > 1 else kwargs["root"]
        mode = args[2] if len(args) > 2 else kwargs.get("mode", "append")
        size = txlog.tx_stats(root, version)["bytes"]
        if mode == "append" and version > 0:
            size -= txlog.tx_stats(root, version - 1)["bytes"]
        s.attrs["operation"] = kwargs.get("operation")
        now = time.perf_counter()
        probe.writes.append((s.attrs["operation"], now - s.start, size, now))

    def on_census(s, out, args, kwargs):
        s.attrs.update(out)
        probe.census.append(out)

    def on_pairs(s, out, args, kwargs):
        # the caller reads the kept pairs, so the pair join runs once,
        # inside this span
        out, s.attrs["pairs"] = tr.materialize(out)
        probe.pairs.append(s.attrs["pairs"])
        return out

    with patched(txlog, "tx_write", traced_call(tr, "sinks.txlog.write", on_write)), patched(
        dd, "minhash_candidate_census", traced_call(tr, "operators.dedup.census", on_census)
    ), patched(dd, "minhash_lsh_pairs", traced_call(tr, "operators.dedup.minhash_lsh_pairs", on_pairs)):
        yield


class CurationFunnel:
    name = "curation_funnel"
    item = "docs"
    # a batch job: each run times one pass in a fresh JVM, as a scheduled
    # spark-submit pays it
    cold = True

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.n = SIZES[size]["docs"]
        self.corpus = os.path.join(work, "corpus")
        self.docs = None
        self.last: dict | None = None
        self.probe = DedupProbe()

    def generate(self) -> int:
        planted_corpus(self.spark, self.n, self.seed).write.mode("overwrite").parquet(self.corpus)
        self.docs = self.spark.read.parquet(self.corpus)
        return dir_size(self.corpus)[0]

    def op(self, i: int, tr) -> OpResult:
        workdir = os.path.join(self.work, "funnel", f"run_{i}")
        with instrument_dedup(tr, self.probe), tr.span("funnel.run_staged_funnel"):
            if tr.enabled:
                self.probe.starts.append(time.perf_counter())
            out = funnel.run_staged_funnel(self.spark, self.docs, workdir)
        with tr.span("funnel.report"):
            report = out["report"].collect()
        self.last = {"workdir": workdir, "tables": out["tables"], "report": report}
        return OpResult(items=self.n)

    def footprint(self) -> int:
        return dir_size(os.path.join(self.work, "funnel"))[0]

    def check(self) -> dict:
        rows = sorted(self.last["report"], key=lambda r: r["stage_no"])
        docs = [r["docs"] for r in rows]
        tokens = {r["stage"]: r["tokens"] for r in rows}
        require(docs[0] == self.n, f"raw stage has {docs[0]} docs, generated {self.n}")
        require(all(a >= b for a, b in zip(docs[:5], docs[1:5])), f"stage docs increase: {docs}")
        require(
            tokens["packed"] == tokens["decontaminated"],
            f"packed tokens {tokens['packed']} != decontaminated tokens {tokens['decontaminated']}",
        )
        ids = {
            stage: {r[0] for r in self.last["tables"][stage].select("doc_id").collect()}
            for stage in ("exact_dedup", "near_dedup")
        }
        q = planted_quality(ids["exact_dedup"], ids["near_dedup"], int(self.n * DUP_FRACTION))
        require(q["recall"] >= MIN_RECALL, f"near_dedup planted recall {q['recall']:.3f} < {MIN_RECALL}")
        require(q["precision"] >= MIN_PRECISION, f"near_dedup precision {q['precision']:.3f} < {MIN_PRECISION}")
        return {"stage_docs": docs, "near_dedup": q}

    def layer_metrics(self, stats) -> dict:
        """A stage's time runs from the previous stage's commit (or the
        pass's start) to its own commit, so it includes the stage's
        build (the MinHash pass of near_dedup runs before its commit
        starts) and the funnel's bookkeeping between commits. What the
        funnel does after its last commit (building the report) and
        collecting the report is ``funnel.report_s``. The stages and the
        report must account for the traced pass within the tracing
        overhead plus ``COVERAGE_SLACK`` of the pass."""
        probe = self.probe
        out = {f"funnel.{stage}_s": 0.0 for stage in funnel.STAGES}
        starts, prev = iter(probe.starts), 0.0
        for operation, _, _, end in probe.writes:
            stage = (operation or "").removeprefix("funnel:")
            if stage == funnel.STAGES[0]:
                prev = next(starts)
            out[f"funnel.{stage}_s"] += probe.per_op(end - prev)
            prev = end
        for idx, stage in enumerate(funnel.STAGES, start=1):
            root = os.path.join(self.last["workdir"], f"{idx:02d}_{stage}")
            out[f"funnel.{stage}.rows_out"] = txlog.tx_stats(root)["rows"]
        staged = sum(out[f"funnel.{s}_s"] for s in funnel.STAGES)
        out["funnel.report_s"] = (
            stats.per_op("funnel.run_staged_funnel", "wall_s") - staged + stats.per_op("funnel.report", "wall_s")
        )
        op_s = stats.per_op(f"{self.name}.op", "wall_s")
        out["funnel.uncovered_s"] = op_s - staged - out["funnel.report_s"]
        out["funnel.stage_coverage"] = (staged + out["funnel.report_s"]) / op_s if op_s else 0.0
        out.update(probe.dedup_ratios(new_docs_only=False))
        out.update(probe.txlog_metrics())
        require(
            out["funnel.uncovered_s"] <= max(0.0, stats.overhead_s) + COVERAGE_SLACK * op_s,
            f"funnel stages and report leave {out['funnel.uncovered_s']:.3f} s of the traced pass uncovered; "
            f"tracing overhead {stats.overhead_s:.3f} s",
        )
        return out
