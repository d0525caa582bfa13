"""Restartable staged curation funnel — the one implementation of the
five curation stages.

Every stage boundary is a PERSISTED staging table: a 10-hour curation
run that fails in stage 5 must resume from stage 4's output, not
re-shuffle 100 TB. The catalog's ``pretrain_prep`` query is a thin
wrapper that runs this funnel into a scratch directory and returns its
report. The staging contract:

- every stage is a TRANSACTIONAL table (``sinks/txlog.py``) at
  ``<workdir>/NN_name/``, committed with ``tx_write(mode="overwrite")``
  and READ BACK via ``tx_read`` for the next stage (the read is the
  lineage barrier that bounds each stage's plan size, plus
  durability). The manifest commit is the atomicity point: a writer
  killed between the parquet write and the commit leaves only
  unreferenced files, so a resumed run sees the previous committed
  version — never a half-written stage (the directory-listing exposure
  the r8 design carried is gone);
- a completed stage (committed head whose manifest ``meta`` records the
  input fingerprint + stage parameters of THIS run) is skipped on re-run
  and its snapshot reused — crash-resume semantics that also invalidate
  on changed input data or changed parameters;
- once any stage recomputes, every LATER stage recomputes too (a resumed
  run can never mix a new upstream with stale downstream outputs);
- the funnel report (stage → surviving docs + token mass) is derived
  from the staged tables.

Stages: quality gate → exact dedup → MinHash near-dup removal (32
hashes / 8 bands, threshold 0.5) → benchmark decontamination
(doc_id%10==0 stand-in slice, 3-gram overlap) → greedy per-language
sequence packing (512-token budget).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from devcontainers_etl_node_spark.operators import dedup as dd, packing
from devcontainers_etl_node_spark.operators import text as tx
from devcontainers_etl_node_spark.operators.skew import spread
from devcontainers_etl_node_spark.sinks import txlog

STAGES = ("quality_gate", "exact_dedup", "near_dedup", "decontaminated", "packed")

# Funnel-level near-dedup defaults (r13, closing the r12 `weak`): the 4M
# blocked ladder (PERF.md r12) proved that a FEW big blocks (lang: 3)
# divide the quadratic band-collision floor by a small constant without
# changing the exponent (wall alpha -> 0.96 at 4M docs, 148.6M floor
# candidates ~= 37/doc), while ~100 family-consistent blocks make the
# wall track the linear signature stage (alpha 1.09). So the funnel
# defaults to the COMPOSITE production-shaped key (lang x source, ~100
# blocks on this corpus shape) and refuses — before the self-join — any
# corpus whose measured floor exceeds a budget:
#
# - measured healthy rates on the bench corpora (r13): 0.02-0.11
#   collisions/doc under (lang, source), 0.3-2.3 under lang alone;
# - the geometry model defines "the floor IS the operator" at ~10/doc
#   (minhash_geometry's crossover: floor ~= 10n);
# - the proven-quadratic 4M lang regime reads ~37/doc.
#
# 32/doc is therefore generous (>10x headroom over every healthy
# measurement, 3x the crossover definition) yet refuses exactly the
# measured scale-killer. The PRIMITIVE (minhash_lsh_pairs) keeps its
# opt-in None default — the gate is a pipeline-level protection.
DEFAULT_NEARDUP_BUDGET = 32.0
_AUTO_BLOCK_CANDIDATES = ("lang", "source")


def default_block_cols(docs: DataFrame) -> list[str]:
    """The composite near-dedup block key the funnel uses when the caller
    passes ``block_cols="auto"``: ``["lang", "source"]`` restricted to
    columns the corpus actually has. ``lang`` is always present for a
    funnel input (packing groups by it); ``source`` joins the key when the
    corpus carries one, multiplying the block count by the source
    cardinality — the measured requirement is ~10²⁺ family-consistent
    blocks (PERF.md r12 4M ladder), which lang alone (3-5 values) cannot
    provide."""
    return [c for c in _AUTO_BLOCK_CANDIDATES if c in docs.columns]


def _stage_dir(workdir: str, idx: int, name: str) -> str:
    return os.path.join(workdir, f"{idx:02d}_{name}")


def _quality_gate(docs: DataFrame) -> DataFrame:
    return docs.filter((F.length("text") >= 50) & (tx.quality_score("text") >= 0.2))


def _exact_dedup(gated: DataFrame) -> DataFrame:
    return dd.exact_dedup(gated)


def _near_dedup(
    exact: DataFrame,
    block_cols: list[str],
    max_collisions_per_doc: float | None,
    cross_block_recovery: bool = False,
) -> DataFrame:
    # The drop list is corpus-proportional (billions of ids at 100 TB) —
    # never force-broadcast it; AQE broadcasts while it fits and degrades
    # gracefully to a shuffled left-anti beyond that.
    # 32/8 library default (r11 flip): the r10 scale ladder measured the
    # old 16/4 config's inactive est-prune + O(n^2) band-collision floor;
    # 32/8 is 2.2-2.5x faster at 250k docs with higher recall (PERF.md).
    # BLOCKED (r11 lang-only; r13 composite default + budget gate): the
    # within-block contract is CCNet/RefinedWeb curation (a translated
    # document is not a training dup) AND the floor mitigation — but the
    # 4M ladder (PERF.md r12) proved lang ALONE keeps the quadratic
    # exponent (3 blocks divide the floor by only ~2.2, wall alpha ->
    # 0.96) while ~100 family-consistent blocks track the linear
    # signature stage (alpha 1.09). The funnel therefore defaults to the
    # composite (lang, source) key and enforces the census budget: a
    # corpus past the floor crossover for the chosen key is REFUSED with
    # the measured volume + blocking/geometry advice instead of silently
    # going quadratic (DEFAULT_NEARDUP_BUDGET rationale above).
    # Cross-block near-dups stay out of the funnel's scope by design.
    pairs = dd.minhash_lsh_pairs(
        exact,
        threshold=0.5,
        block_cols=block_cols or None,
        max_collisions_per_doc=max_collisions_per_doc,
        cross_block_recovery=cross_block_recovery,
    )
    # no distinct: anti joins are set-semantics on the right side, and a
    # dropped id repeats only once per extra near-dup partner
    near_drop = pairs.select(F.col("id_b").alias("doc_id"))
    return exact.join(near_drop, "doc_id", "left_anti")


def _decontaminate(neardeduped: DataFrame, docs: DataFrame) -> DataFrame:
    # bench_grams IS bounded (by the benchmark suite, not the corpus) —
    # its broadcast hint is safe; the contaminated-id list is not, so its
    # anti-join strategy stays AQE-decided.
    # Grams meet as 8-byte xxhash64 longs, not strings:
    # smaller broadcast set, cheaper comparisons; a ~1e-9 hash collision
    # only ever drops an extra doc (conservative for decontamination).
    bench_grams = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(dd.word_shingles("text", 3)).alias("gram"))
        .select(F.xxhash64("gram").alias("gram_h"))
        .distinct()
    )
    doc_grams = neardeduped.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.explode(dd.word_shingles("text", 3)).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("gram_h"))
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "gram_h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return neardeduped.filter(F.col("doc_id") % 10 != 0).join(
        contaminated, "doc_id", "left_anti"
    )


def _pack(clean: DataFrame, max_tokens: int) -> DataFrame:
    return packing.pack_sequences(
        clean.withColumn("n_tokens", tx.token_count("text")),
        "n_tokens",
        "lang",
        "doc_id",
        max_tokens=max_tokens,
    )


def run_staged_funnel(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    max_tokens: int = 512,
    input_fingerprint: str | None = None,
    block_cols: list[str] | str | None = "auto",
    max_collisions_per_doc: float | None = DEFAULT_NEARDUP_BUDGET,
    cross_block_recovery: bool = False,
) -> dict:
    """Run (or resume) the staged funnel under `workdir`.

    ``cross_block_recovery`` (r14, opt-in, requires a non-empty block
    key): after the blocked near-dedup pass, run the bounded
    rep-per-cluster global re-band (``dedup.minhash_crossblock_recovery``
    — measured recall 0.981/0.980 of blocking-dropped pairs, PERF.md r12)
    and drop the recovered cross-block partners too. Recorded in the
    near_dedup stage meta, so flipping it invalidates that stage and
    everything downstream on resume. The census budget covers the
    recovery's rep pass as well (the primitive threads it through).

    The near-dedup stage always runs under ``dedup.minhash_partition_plan``
    (r14): shuffle partitions and scan splits are sized from n_docs and
    on-disk bytes read for FREE from the exact_dedup stage's txlog
    manifest (zero extra jobs), applied scoped to the stage and restored
    after (``dedup.applied_partition_plan``; monotone toward finer tasks,
    a no-op at bench scale). The 4M ladder measured the failure this
    prevents: ``UNABLE_TO_ACQUIRE_MEMORY`` at the 32-partition session
    default, double ``AGGREGATE_OUT_OF_MEMORY`` at default 128 MB splits
    (PERF.md r12). Geometry does not change results, so it is NOT part
    of the stage meta (resume-compatible with r13 workdirs).

    ``block_cols`` (r13): the near-dedup blocking key. ``"auto"`` (the
    default) picks :func:`default_block_cols` — the composite
    ``["lang", "source"]`` key restricted to columns the corpus has (the
    measured requirement is ~10²⁺ family-consistent blocks; PERF.md r12
    4M ladder). Pass an explicit list to override, or ``None``/``[]``
    for unblocked (small corpora only — unblocked is O(n²) past the
    floor crossover). ``max_collisions_per_doc`` is the enforced census
    budget (default :data:`DEFAULT_NEARDUP_BUDGET` = 32/doc — see the
    rationale at its definition); a corpus past the floor for the chosen
    key raises BEFORE the candidate self-join with the measured volume
    and blocking/geometry advice. ``None`` disables the gate (the
    primitive's opt-in contract — not recommended for pipelines). Both
    are recorded in the near_dedup stage meta, so changing either
    invalidates that stage and everything downstream on resume.

    Returns {"tables": {stage: DataFrame}, "report": DataFrame,
    "computed": [stage names actually recomputed this run]} — `report`
    has one (stage_no, stage, docs, tokens) row per stage, raw included.

    Resume safety: every stage is a txlog table whose commit ``meta``
    records the input fingerprint and the stage's parameters. A stage
    is reused only when a committed head EXISTS and its meta matches
    the current run — so a writer killed mid-stage (files staged, no
    manifest) resumes at the previous committed version, and re-running
    with different input data or a different ``max_tokens`` invalidates
    the affected stage and everything downstream instead of silently
    reusing stale outputs. Superseded stage versions stay time-travel
    readable until ``txlog.tx_vacuum`` reclaims them.

    ``input_fingerprint`` identifies the input corpus; it defaults to
    ``docs.semanticHash()``, which fingerprints the PLAN (source paths,
    filters, schema) — enough to catch pointing the funnel at a
    different table/path, but NOT an in-place overwrite of the same
    files. A production run should pass an explicit snapshot id (e.g.
    the source table's version or a manifest digest) for that case.
    """
    docs = spread(docs)
    if block_cols == "auto":
        block_cols = default_block_cols(docs)
    if isinstance(block_cols, str):
        # a bare string is one column name, not an iterable of characters
        block_cols = [block_cols]
    block_cols = list(block_cols or [])
    missing = [c for c in block_cols if c not in docs.columns]
    if missing:
        raise ValueError(
            f"block_cols {missing} not in the corpus columns {docs.columns} — "
            "pass columns the documents table carries (or 'auto')"
        )
    if cross_block_recovery and not block_cols:
        # the primitive raises the same way, but AFTER the caller paid for
        # two stages — validate at entry (the r12 advice lesson)
        raise ValueError(
            "cross_block_recovery=True only applies with a non-empty block "
            "key — the unblocked funnel already searches globally"
        )
    if input_fingerprint is None:
        input_fingerprint = str(docs.semanticHash())
    computed: list[str] = []
    tables: dict[str, DataFrame] = {}
    upstream_recomputed = False

    def materialize(idx: int, name: str, build, params: dict | None = None) -> DataFrame:
        nonlocal upstream_recomputed
        path = _stage_dir(workdir, idx, name)
        meta = {
            "input": input_fingerprint,
            "stage": name,
            "params": params or {},
        }
        head = txlog.tx_head(path)
        if head is not None and not upstream_recomputed:
            # complete = a COMMITTED version whose meta matches this run;
            # staged-but-uncommitted files are invisible by construction
            if txlog.tx_meta(path, head) == meta:
                return txlog.tx_read(spark, path, version=head)
        txlog.tx_write(
            build(), path, mode="overwrite", operation=f"funnel:{name}", meta=meta
        )
        computed.append(name)
        upstream_recomputed = True
        return txlog.tx_read(spark, path)

    # config is part of the stage meta: flipping it (as r11 did, 16/4 ->
    # 32/8; as r13 does, lang -> composite blocked+gated) invalidates the
    # memoized near_dedup stage and every stage downstream — exactly the
    # recompute the new pair set requires.
    near_params = {
        "num_hashes": 32, "bands": 8, "threshold": 0.5,
        "block": ",".join(block_cols), "budget": max_collisions_per_doc,
    }
    if cross_block_recovery:
        # absent key ≡ False: r13 workdirs (which predate the flag) stay
        # resume-valid, while opting IN invalidates the stage + downstream
        near_params["cross_block_recovery"] = True
    gated = materialize(1, "quality_gate", lambda: _quality_gate(docs))
    exact = materialize(2, "exact_dedup", lambda: _exact_dedup(gated))
    # r14: geometry for the dedup stage from the exact stage's manifest —
    # (rows, bytes) are driver-side commit metadata, zero Spark jobs
    stats = txlog.tx_stats(_stage_dir(workdir, 2, "exact_dedup"))
    with dd.applied_partition_plan(
        spark,
        max(1, stats["rows"]),
        avg_doc_bytes=(stats["bytes"] // stats["rows"]) if stats["rows"] else None,
    ):
        neardeduped = materialize(
            3,
            "near_dedup",
            lambda: _near_dedup(
                exact, block_cols, max_collisions_per_doc, cross_block_recovery
            ),
            near_params,
        )
    clean = materialize(4, "decontaminated", lambda: _decontaminate(neardeduped, docs))
    packed = materialize(
        5, "packed", lambda: _pack(clean, max_tokens), {"max_tokens": max_tokens}
    )
    tables.update(
        quality_gate=gated, exact_dedup=exact, near_dedup=neardeduped,
        decontaminated=clean, packed=packed,
    )

    def stage_row(name: str, order: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(order).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("docs"),
            F.coalesce(F.sum(tx.token_count("text")), F.lit(0)).alias("tokens"),
        )

    packed_summary = packed.agg(
        F.lit(5).alias("stage_no"),
        F.lit("packed").alias("stage"),
        F.countDistinct(F.concat_ws("|", "group", "seq_id")).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
    )
    report = (
        stage_row("raw", 0, docs)
        .unionByName(stage_row("quality_gate", 1, gated))
        .unionByName(stage_row("exact_dedup", 2, exact))
        .unionByName(stage_row("near_dedup", 3, neardeduped))
        .unionByName(stage_row("decontaminated", 4, clean))
        .unionByName(packed_summary)
        .orderBy("stage_no")
    )
    return {"tables": tables, "report": report, "computed": computed}
