"""Which registered query belongs to which query workload.

The registry (``purldb_spark.plans.registry.QUERIES``) is split into three
disjoint workloads by name pattern, following the three ways PurlDB is used
(SURVEY §3.1 catalog query, §3.2 collect-on-demand, §3.3 codebase matching)
plus the corpus-curation flagship (SURVEY §8):

* ``catalog_api`` — the relational catalog read and merge path.
* ``collect_match`` — the miners/collectors, the matching cascade and the
  mining-queue faces.
* ``corpus_curate`` — dedup, knn, text, select, sketch, embed, assembly,
  training, multimodal and the plan/cost dashboards of the curation flagship.

Every pattern list is explicit, so a newly registered query matches none of
them and :func:`partition` raises until the query is assigned.
"""

from __future__ import annotations

import re

CATALOG_API = (
    r"p([2-9]|1[01])_.*",
    r"s1_.*",
    r"s2_.*",
    r"a[1-46-9]_.*",
    r"a_rollup_status_priority",
    r"c3_.*",
    r"c9_.*",
    r"c_scalar_bundle",
    r"j([1-59]|1[0-5])_.*",
    r"m[1-5]_.*",
    r"q([1-9]|10)_.*",
    r"u[1-5]_.*",
    r"v[2-4]_.*",
    r"w[1-7]_.*",
)

COLLECT_MATCH = (
    r"x_.*",
    r"match_.*",
    r"f5_.*",
    r"snippet_match_pipeline",
    r"a5_.*",
    r"j6_.*",
    r"j7_.*",
    r"t_.*",
)

# corpus_curate's families (SURVEY §8), by the query name's first word;
# the benchmark times one query of each (query_ops.SAMPLE)
CURATE_FAMILIES: dict[str, tuple[str, ...]] = {
    "pipeline": ("corpus",),
    "dedup": ("dedup", "minhash", "lsh", "simhash", "cc", "decontam", "compaction"),
    "knn": ("knn", "ann", "ivf", "pq", "kmeans"),
    "text": ("text",),
    "select": ("select", "classifier", "nb"),
    "sketch": ("sketch",),
    "embed": ("embed",),
    "assembly": ("sample", "shuffle", "mix", "split", "layout"),
    "training": ("bpe", "chunk", "pack"),
    "mm": ("mm", "shot"),
}

CORPUS_CURATE = tuple(
    rf"{word}_.*" for words in CURATE_FAMILIES.values() for word in words
)

PATTERNS: dict[str, tuple[str, ...]] = {
    "catalog_api": CATALOG_API,
    "collect_match": COLLECT_MATCH,
    "corpus_curate": CORPUS_CURATE,
}


def partition(names) -> dict[str, list[str]]:
    """Sorted query names per workload; raises ValueError when a name
    matches no workload or more than one."""
    out: dict[str, list[str]] = {w: [] for w in PATTERNS}
    bad: list[str] = []
    for name in sorted(names):
        hits = [
            w
            for w, pats in PATTERNS.items()
            if any(re.fullmatch(p, name) for p in pats)
        ]
        if len(hits) != 1:
            bad.append(f"{name} -> {hits or 'no workload'}")
            continue
        out[hits[0]].append(name)
    if bad:
        raise ValueError(
            "every registered query must belong to exactly one query "
            "workload (perfbench/workloads.py): " + "; ".join(bad)
        )
    return out


def family(name: str) -> str:
    """The corpus_curate family of a query; raises KeyError for a name
    whose first word no family lists."""
    first = name.split("_")[0]
    for fam, words in CURATE_FAMILIES.items():
        if first in words:
            return fam
    raise KeyError(f"{name}: no corpus_curate family (perfbench/workloads.py)")
