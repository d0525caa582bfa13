"""Broadcast-hint policy as a pinned invariant.

Round 4's verdict found 17 queries force-broadcasting sf-proportional
tables (customer/part/supplier) — correct at test sf, OOM at the 100 TB
design point. Round 5 removed them and set the policy: a `F.broadcast`
hint is allowed ONLY on a provably bounded side —

- constant dimensions (nation: 25 rows, region: 5),
- one-row aggregates (totals, min/max bounds, scalar averages),
- per-bounded-group fences (order priorities, event types, returnflags),
- capped sets (top-k limits, fixed vocab sizes, bloom bit positions),
- benchmark gram sets (bounded by the EVAL SUITE, not the corpus).

Everything proportional to the corpus (fact tables, customer/part/
supplier, per-user/per-order/per-document tables, open vocabularies) is
AQE-chosen. This test greps the package for every `F.broadcast(<target>`
call site and pins the exact set per file: adding a hint means
consciously editing the allowlist here, with the bounded-side argument
in the code's docstring.
"""

from __future__ import annotations

import os
import re
from collections import Counter

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "devcontainers_etl_node_spark")

# file (relative to package) -> multiset of broadcast-target identifiers
ALLOWED = {
    "funnel.py": {"bench_grams": 1},                     # eval-suite bounded
    "generators/synthetic.py": {"cat": 1},               # generator catalog, n_prod-capped
    "sinks/files.py": {"bounds": 1},                     # one-row min/max
    "streaming/pipeline.py": {"dim": 1},                 # opt-in (broadcast_dim flag)
    "transforms/enrich.py": {"side": 1},                 # opt-in (broadcast_dims flag)
    "operators/prefixsum.py": {
        "off": 1,       # per-bucket offsets: <= n_buckets (default 64) rows
    },
    "operators/rankselect.py": {
        "bounds": 2,    # per-group min/max: one row per (bounded) group
        "hits": 2,      # boundary bins: <= groups x targets rows
    },
    "operators/similarity.py": {                         # query sets / capped artifacts
        "q": 4,         # the (small, by-contract) query side
        "cent": 1,      # n_centroids rows
        "probed": 1,    # queries x n_probe rows
        "dtab": 2,      # per-(query,cell) ADC tables, bounded by probe fan-out
        "centroids": 1,  # n_centroids rows (frozen-quantizer assignment)
    },
    "operators/retrieval.py": {                          # BM25 (see module docstring)
        "qterms": 1,    # distinct query terms: caller-literal tiny by contract
        "qdf": 1,       # (query_id, term) rows: same bound
        "dfreq": 1,     # one df row per DISTINCT QUERY term, never the vocab
        "stats": 1,     # one-row N/avgdl corpus scalar
        # r11 setsim pre-flight (setsim_preflight_df): all one-row aggs
        "corpus": 1,    # one-row n_docs/total_grams/prefix_mass
        "tot": 2,       # one-row distinct_grams (histogram join + the r12
                        # empty-corpus global-agg assembly)
        "derived": 1,   # one-row global agg (screen/head sums; r12
                        # empty-corpus fix — yields its row even when empty)
        "census": 1,    # one-row exact candidate census
    },
    "queries/catalog.py": {
        # constant dims
        "n": 7, "n1": 2, "n2": 2, "nation": 1, "nr": 1, "r": 3,
        # one-row aggregates / scalar thresholds
        "total": 3, "totals": 2, "t": 2, "tot": 2, "mx": 1, "mid": 1,
        "nd": 1, "anchor": 1, "avg_pos": 1, "avg_df": 1, "thresholds": 1,
        "ns": 1, "b": 2,
        # temperature_domain_sample: one-row leftover count + per-source
        # quotas (low-cardinality dimension, nation-class bound)
        "leftover": 1, "quota": 1,
        # per-bounded-group fences / stats
        "fences": 2, "med": 2, "mad": 1,   # med: +1-row median (time_to_convert)
        "brow": 1,  # rfm boundary pivot: one row of <= 9 structs
        # capped sets
        "vocab": 1, "top": 1, "bits": 1, "sel": 1, "tgt": 1,
        "bounds": 2,
        # benchmark gram sets (eval-suite bounded); bench: +1 is the
        # bloom_decontaminate exact recheck over the screened subset
        "bench": 3,
    },
}


def _broadcast_targets() -> dict[str, Counter]:
    found: dict[str, Counter] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                src = f.read()
            targets = re.findall(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)", src)
            if targets:
                found[rel] = Counter(targets)
    return found


def test_broadcast_hints_only_on_bounded_sides():
    found = _broadcast_targets()
    expected = {k: Counter(v) for k, v in ALLOWED.items()}
    assert found == expected, (
        "F.broadcast call sites changed. If the new target is PROVABLY "
        "bounded (constant dim / one-row agg / capped set), add it here "
        "with the argument in the code docstring; if it is corpus-"
        f"proportional, remove the hint and let AQE choose.\nfound={found}"
    )


def test_no_sparkcontext_broadcast_of_proportional_data():
    # sparkContext.broadcast ships driver objects; the only uses are
    # trained artifacts (codebooks, centroids, PCA stats) — all O(model),
    # never O(corpus). Pin the file set so a corpus-sized driver
    # broadcast can't slip in.
    uses = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    if "sparkContext.broadcast" in f.read():
                        uses.append(os.path.relpath(path, PKG))
    assert sorted(uses) == ["operators/similarity.py"], uses
