"""Output checks for query ops, run outside the timed region.

Each query's result is compared with its DuckDB oracle SQL
(``plans.registry.ORACLES``) the way ``tests/conftest.py`` and the
correctness gate compare them: same column names, same row count, and the
same multiset of row ``repr``s. ``f5_seqmatch_rank`` has no SQL oracle; it
is compared with a plain-Python replay of the reference ranking loop
(difflib), as ``tests/test_seqmatch.py`` does.
"""

from __future__ import annotations

import os
from collections import defaultdict
from difflib import SequenceMatcher


class Oracle:
    """A DuckDB connection with every input table registered as a view."""

    def __init__(self, sf_dir: str, tables, temp_dir: str):
        import duckdb

        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def mismatch(self, spark, name: str, pdf, oracles) -> str | None:
        """None when ``pdf`` (the query's collected result) is right, else
        a one-line reason."""
        if name == "f5_seqmatch_rank":
            return _seqmatch_mismatch(spark, self.sf_dir, pdf)
        if name not in oracles:
            return "no oracle registered"
        du = self.con.execute(oracles[name]).fetchdf()
        cols = sorted(pdf.columns)
        if cols != sorted(du.columns):
            return f"columns {cols} != {sorted(du.columns)}"
        if len(pdf) != len(du):
            return f"rows {len(pdf)} != {len(du)}"
        got = sorted(map(repr, pdf[cols].itertuples(index=False)))
        want = sorted(map(repr, du[cols].itertuples(index=False)))
        for a, b in zip(got, want):
            if a != b:
                return f"value {a} != {b}"
        return None


def _seqmatch_mismatch(spark, sf_dir: str, pdf) -> str | None:
    """Replay of the reference's step-4 ranking (matchcode/models.py
    339-366): per query doc (doc_id % 20 == 0), among same-language docs
    with the smallest n_chars difference, the lowest 1 - ratio of the
    first 24 characters wins, ties to the smaller doc id."""
    from purldb_spark.catalog.tables import load

    docs = [
        (r.doc_id, r.lang, r.n_chars, r.text[:24])
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
        .collect()
    ]
    by_lang = defaultdict(list)
    for d in docs:
        by_lang[d[1]].append(d)
    want = {}
    for qid, lang, qc, qh in docs:
        if qid % 20 != 0:
            continue
        cands = [(c, ic, ih) for c, _, ic, ih in by_lang[lang] if c != qid]
        if not cands:
            continue
        best_diff = min(abs(qc - ic) for _, ic, _ in cands)
        tier = [(c, ih) for c, ic, ih in cands if abs(qc - ic) == best_diff]
        best = min(
            tier, key=lambda t: (1 - SequenceMatcher(a=qh, b=t[1]).ratio(), t[0])
        )
        want[qid] = (best[0], round(SequenceMatcher(a=qh, b=best[1]).ratio(), 6))
    got = {
        int(r.q_doc_id): (int(r.cand_doc_id), round(r.name_ratio, 6))
        for r in pdf.itertuples(index=False)
    }
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"replay differs on {len(set(got.items()) ^ set(want.items()))} rows, e.g. {diff}"
    return None
