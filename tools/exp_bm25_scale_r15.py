"""bm25 rework at a scale rung (r14 verdict item 5).

The r14 bm25 rework (map-side dl, literal vocab filter before the
postings aggregation, one-row stats aggregate) was plan-verified but only
wall-measured at sf0.1 (584 KB corpus — latency-bound). This rung banks
the claim the way minhash did: a 250k-doc synthetic corpus with query
terms planted at realistic frequencies, interleaved A/B, identical top-k
output asserted, and the shuffle-byte totals read from the UI REST API
(executor counters, deltas per variant).

A = pre-r14 form (4 corpus postings subtrees, full-postings groupBy(doc_id)
    for dl — tools/exp_bm25_r14.b0_original)
B = shipped r14/r15 retrieval.bm25_topk

Usage: python tools/exp_bm25_scale_r15.py [n_docs] [rounds]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from devcontainers_etl_node_spark.session import driver_memory

# the experiment session needs the UI for the REST shuffle counters —
# build it BEFORE anything calls session.get_spark (getOrCreate reuses it)
spark = (
    SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    .appName("exp_bm25_scale_r15")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.driver.memory", driver_memory())
    .config("spark.ui.enabled", "true")
    .config("spark.ui.port", "4057")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

from tools.exp_bm25_r14 import QT, b0_original  # noqa: E402

from devcontainers_etl_node_spark.operators import retrieval  # noqa: E402

VOCAB = sorted({t for _, terms in QT for t in terms})


def shuffle_totals() -> tuple[int, int]:
    # per-stage sums across every stage the app has run so far (the
    # executor-level counters lag in local mode); deltas per variant
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"http://localhost:4057/api/v1/applications/{app}/stages"
    ) as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
    )


def corpus(n: int):
    # ~60-word docs over a 5000-word Zipf-ish filler vocabulary, with the
    # 8 query terms planted at 1/7 .. 1/29 doc frequencies (so df varies
    # per term and tf>1 happens via the doubled plant below)
    filler = [
        F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(j)), F.lit(5000)).cast("string"))
        for j in range(60)
    ]
    planted = [
        F.when(F.col("id") % (7 + 3 * i) == i, F.lit(t)).otherwise(F.lit(""))
        for i, t in enumerate(VOCAB)
    ]
    doubled = [
        F.when(F.col("id") % 97 == i, F.lit(f"{t} {t}")).otherwise(F.lit(""))
        for i, t in enumerate(VOCAB)
    ]
    text = F.concat_ws(" ", *filler, *planted, *doubled)
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sc = spark.sparkContext
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    docs = corpus(n).localCheckpoint(eager=True)
    print(f"n={n} docs materialized; load={os.getloadavg()[0]:.2f}")

    variants = [
        ("A_prer14", lambda: b0_original(docs, spark)),
        ("B_shipped", lambda: retrieval.bm25_topk(docs, QT, k=5)),
    ]
    for rnd in range(rounds):
        for name, fn in variants:
            gc.collect()
            sc._jvm.System.gc()
            j0 = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))
            w0, r0 = shuffle_totals()
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            w1, r1 = shuffle_totals()
            j1 = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))
            print(
                f"r{rnd} {name}: wall={wall:.2f}s jobs={j1 - j0} "
                f"shuffleWrite={(w1 - w0) / 1e6:.2f}MB shuffleRead={(r1 - r0) / 1e6:.2f}MB "
                f"load={os.getloadavg()[0]:.2f}",
                flush=True,
            )
    ref = b0_original(docs, spark)
    out = retrieval.bm25_topk(docs, QT, k=5)
    d1 = out.exceptAll(ref).count()
    d2 = ref.exceptAll(out).count()
    print(f"EQ: out-ref={d1} ref-out={d2} EQUAL={d1 == 0 and d2 == 0}")


if __name__ == "__main__":
    main()
