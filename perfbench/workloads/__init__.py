"""The benchmark's workloads, by name. Each class takes
``(spark, workdir, seed, size)`` and provides ``generate()`` (writes the
seeded inputs, returns their bytes), ``op(i, tracer)`` (one closed-loop
operation), ``check()`` (output checks, outside any timed region) and
``layer_metrics(stats)``. Optional: ``cold`` (time one pass in a fresh
JVM), ``warm_up()``, ``trace_block`` (operations per traced block) and
``footprint()`` (bytes its sinks and stores hold on disk, read before and
after each operation, outside its timed region)."""

import importlib

WORKLOADS = {
    "star_etl": ("perfbench.workloads.star_etl", "StarEtl"),
    "curation_funnel": ("perfbench.workloads.curation_funnel", "CurationFunnel"),
    "incremental_dedup": ("perfbench.workloads.incremental_dedup", "IncrementalDedup"),
    "query_mix": ("perfbench.workloads.query_mix", "QueryMix"),
}


def load(name: str):
    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)
