"""The ``stream_ingest`` workload: the write path of the dedup stream.

The documents arrive in ``EPOCHS`` seeded epochs. One op is one epoch:
``dedup_stream.index_new_batch``, then ``ledger_stream.record_batch``,
then ``cc_stream.merge_pairs_batch`` over the decisions table; after the
middle epoch the same op also runs ``compact_stream.compact_band_index``
(retention window from the ledger) and ``prune_generations``. Set-up ends
with an untimed warm stream of the first ``WARM_EPOCHS`` epochs (it
compacts too), so the timed epochs do not pay the JVM's first-run
compilation. A run then streams the whole corpus, starting a new stream
with fresh state until at least ``--seconds`` of op time has been
measured.

Checks, outside the timed region:

* after every epoch (an op fails when one does not hold): every streamed
  pair is a pair of the batch dedup math over the whole corpus; the stored
  cluster labels are the connected components of the streamed pairs; the
  ledger's retention window holds exactly the documents ingested so far.
* after every stream, the strict check: the streamed cluster labels equal
  the batch composition (shingles, bands, candidates, verified pairs,
  connected components) over all documents, as in
  ``tests/test_dedup_cc_pipeline.py``. ``index_new_batch`` joins a batch
  only against the stored index, so two near-duplicates arriving in the
  same epoch are never paired and this check fails; its counts and
  ``streaming.pair_recall`` report the gap.
"""

from __future__ import annotations

import os
import random

from harness import DATA, Pass, describe, interval, log
from tracing import NullTracer, Tracer

EPOCHS = 4
# epochs of the untimed warm stream; the compaction runs after epoch
# WARM_EPOCHS // 2, so with 1 the warm stream's only epoch also compacts
WARM_EPOCHS = 1
THRESHOLD = 0.5  # index_new_batch's default Jaccard threshold


def _pair(a: int, b: int) -> tuple[int, int]:
    return (a, b) if a < b else (b, a)


def _components(pairs) -> dict[int, int]:
    """node -> smallest node of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _batch_truth(spark) -> tuple[set, dict]:
    """Verified pairs and cluster labels of the batch dedup math over
    every document."""
    from purldb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        verify_jaccard,
        word_shingles,
    )

    docs = spark.read.parquet(str(DATA / "documents.parquet")).select(
        "doc_id", "text"
    )
    sh = word_shingles(docs, "doc_id", "text", n=3)
    pairs = verify_jaccard(
        lsh_candidate_pairs(minhash_bands(sh, "doc_id"), "doc_id"),
        sh,
        "doc_id",
        THRESHOLD,
    )
    got = {_pair(r.id_a, r.id_b) for r in pairs.collect()}
    return got, _components(got)


def _dir_size(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class _Stream:
    """One stream of every epoch into fresh state under ``state``, each
    epoch timed into ``out`` under ``tracer``."""

    def __init__(self, ctx, epochs, state, tracer, truth, out: Pass):
        self.ctx, self.epochs, self.state = ctx, epochs, state
        self.tracer, self.truth, self.out = tracer, truth, out
        self.idx, self.prs, self.lab, self.led = (
            os.path.join(state, d) for d in ("index", "pairs", "labels", "ledger")
        )
        self.ingested: set[int] = set()
        self.streamed: set = set()

    def epoch(self, e: int) -> None:
        from purldb_spark.streaming.cc_stream import current_labels, merge_pairs_batch
        from purldb_spark.streaming.compact_stream import (
            compact_band_index,
            prune_generations,
        )
        from purldb_spark.streaming.dedup_stream import index_new_batch
        from purldb_spark.streaming.ledger_stream import record_batch, retained_docs

        spark, tracer = self.ctx.spark, self.tracer
        path, ids = self.epochs[e]
        batch = spark.read.parquet(path)
        tracer.begin_op(f"{os.path.basename(self.state)}/epoch{e}")
        ok = True
        with interval() as iv:
            try:
                with tracer.span("op"):
                    with tracer.span("streaming.index_new_batch"):
                        index_new_batch(
                            spark, batch, self.idx, self.prs, threshold=THRESHOLD
                        )
                    with tracer.span("streaming.record_batch"):
                        record_batch(spark, batch, self.led, e)
                    with tracer.span("streaming.merge_pairs_batch"):
                        merge_pairs_batch(
                            spark, spark.read.parquet(self.prs), self.lab, e,
                            "new_id", "index_id",
                        )
                    if e == len(self.epochs) // 2:
                        with tracer.span("streaming.compact_band_index"):
                            window = retained_docs(spark, self.led, keep_epochs=e + 1)
                            compact_band_index(spark, self.idx, retained_docs=window)
                            prune_generations(self.idx)
            except Exception as exc:  # the op failed; keep streaming
                log(f"epoch {e}: op failed: {describe(exc)}")
                ok = False
        counters = tracer.end_op() if tracer.enabled else None

        self.ingested |= ids
        if ok:
            self.streamed = {
                _pair(r.new_id, r.index_id)
                for r in spark.read.parquet(self.prs).collect()
            }
            labels = {
                r.node: r.label for r in current_labels(spark, self.lab).collect()
            }
            window = {
                r.doc_id
                for r in retained_docs(spark, self.led, keep_epochs=e + 1).collect()
            }
            false_pairs = self.streamed - self.truth[0]
            problems = [
                f"{len(false_pairs)} streamed pairs not in the batch math"
                if false_pairs else "",
                "labels are not the components of the streamed pairs"
                if labels != _components(self.streamed) else "",
                "ledger window differs from the ingested documents"
                if window != self.ingested else "",
            ]
            for p in filter(None, problems):
                log(f"epoch {e}: output check failed: {p}")
                ok = False
        self.out.add(iv, ok, items=len(ids), counters=counters)
        log(
            f"op epoch {e}{' traced' if tracer.enabled else ''} ({len(ids)} "
            f"docs): {1000.0 * self.out.latencies[-1]:.1f} ms "
            f"(wall {1000.0 * iv.wall:.1f}, stolen {iv.share:.3f})"
        )


def _strict_check(spark, epochs, state, truth, streamed) -> dict:
    """The strict-check figures of a whole stream into ``state``."""
    from purldb_spark.streaming.cc_stream import current_labels

    batch_pairs, batch_labels = truth
    epoch_of = {d: e for e, (_, ids) in enumerate(epochs) for d in ids}
    missing = batch_pairs - streamed
    state_bytes, state_files = _dir_size(state)
    labels = {
        r.node: r.label
        for r in current_labels(spark, os.path.join(state, "labels")).collect()
    }
    return {
        "batch_pairs": len(batch_pairs),
        "streamed_pairs": len(streamed),
        "missing": len(missing),
        "missing_same_epoch": sum(
            1 for a, b in missing if epoch_of[a] == epoch_of[b]
        ),
        "false_pairs": len(streamed - batch_pairs),
        "labels_equal": labels == batch_labels,
        "label_mismatches": sum(
            1
            for n in set(labels) | set(batch_labels)
            if labels.get(n) != batch_labels.get(n)
        ),
        "pair_recall": len(streamed & batch_pairs) / len(batch_pairs),
        "state_bytes": state_bytes,
        "state_files": state_files,
    }


def _streams(ctx, epochs, truth, tracers, tag) -> tuple[list[Pass], list[dict]]:
    """Stream the corpus once under every tracer, each stream into its own
    state, epoch by epoch in lockstep with the order of the tracers turning
    from epoch to epoch, until the first tracer's epochs add up to at least
    ``ctx.seconds``. Returns one Pass per tracer and the strict-check
    figures of the last tracer's streams."""
    outs = [Pass() for _ in tracers]
    stats: list[dict] = []
    while not stats or outs[0].seconds < ctx.seconds:
        streams = [
            _Stream(
                ctx, epochs, str(ctx.work / "state" / f"{tag}{len(stats)}-{i}"),
                tracer, truth, out,
            )
            for i, (tracer, out) in enumerate(zip(tracers, outs))
        ]
        for e in range(len(epochs)):
            k = e % len(streams)
            for st in streams[k:] + streams[:k]:
                st.epoch(e)
        last = streams[-1]
        stats.append(
            _strict_check(ctx.spark, epochs, last.state, truth, last.streamed)
        )
        s = stats[-1]
        verdict = "passed" if s["labels_equal"] else "FAILED"
        log(
            f"strict check {verdict} (streamed labels vs batch "
            f"composition): batch pairs {s['batch_pairs']}, streamed pairs "
            f"{s['streamed_pairs']}, missing {s['missing']} "
            f"({s['missing_same_epoch']} with both documents in one epoch), "
            f"false pairs {s['false_pairs']}, label mismatches "
            f"{s['label_mismatches']}, pair recall {s['pair_recall']:.4f}"
        )
    return outs, stats


def run(ctx, workload: str, trace: bool) -> dict:
    import pyarrow.parquet as pq

    with interval() as start_iv:
        spark = ctx.start_session()
        with ctx.phase("inventory"):
            import purldb_spark.streaming.cc_stream  # noqa: F401
            import purldb_spark.streaming.compact_stream  # noqa: F401
            import purldb_spark.streaming.dedup_stream  # noqa: F401
            import purldb_spark.streaming.ledger_stream  # noqa: F401

    # the input stream: a seeded shuffle of the documents cut into EPOCHS
    # near-equal epochs, one parquet file each
    docs = pq.read_table(
        str(DATA / "documents.parquet"), columns=["doc_id", "text"]
    )
    ids = sorted(docs.column("doc_id").to_pylist())
    random.Random(ctx.seed).shuffle(ids)
    cuts = [len(ids) * e // EPOCHS for e in range(EPOCHS + 1)]
    (ctx.work / "input").mkdir()
    epochs = []
    for e in range(EPOCHS):
        members = set(ids[cuts[e]:cuts[e + 1]])
        path = str(ctx.work / "input" / f"epoch{e}.parquet")
        mask = [d in members for d in docs.column("doc_id").to_pylist()]
        pq.write_table(docs.filter(mask), path)
        epochs.append((path, members))
    truth = _batch_truth(spark)

    with interval() as warm_iv, ctx.phase("warm_stream"):
        warm = Pass()
        stream = _Stream(
            ctx, epochs[:WARM_EPOCHS], str(ctx.work / "state" / "warm"),
            NullTracer(), truth, warm,
        )
        for e in range(WARM_EPOCHS):
            stream.epoch(e)
    if warm.failed:
        log(f"warm stream: {warm.failed} of {warm.attempted} epochs failed")

    tracers = [NullTracer()]
    if trace:
        tracers.append(Tracer(spark))
        for name, start, end in ctx.setup_phases:
            tracers[1].record(name, start, end)
    outs, stats = _streams(ctx, epochs, truth, tracers, "stream")
    result = {
        "setup_s": start_iv.seconds + warm_iv.seconds,
        "pass": outs[0],
        "ops_per_pass": EPOCHS,
    }
    if trace:
        result.update(traced=outs[1], tracer=tracers[1], traced_stats=stats)
    return result


STEPS = (
    "streaming.index_new_batch",
    "streaming.record_batch",
    "streaming.merge_pairs_batch",
    "streaming.compact_band_index",
)
COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "scan_bytes",
)


def layers(result: dict) -> dict[str, float]:
    """Per-epoch means of the traced streams (compaction: per run of it)."""
    from tracing import self_times

    p: Pass = result["traced"]
    spans = result["tracer"].spans
    out = {
        # the op loop's own time, mostly the tracer reading counters
        "trace.op_self_ms": 1000.0 * self_times(spans).get("op", 0.0) / p.attempted,
    }
    for step in STEPS:
        d = [s["end"] - s["start"] for s in spans if s["name"] == step]
        out[f"{step}_ms"] = 1000.0 * sum(d) / len(d) if d else 0.0
    for c in COUNTERS:
        out[f"exec.{c}"] = sum(p.mean(f"{step}:{c}") for step in STEPS)
    out["catalyst.plan_ms"] = sum(p.mean(f"{s}:plan_ms") for s in STEPS)
    out["catalyst.plan_chars"] = sum(p.mean(f"{s}:plan_chars") for s in STEPS)
    out["streaming.jobs_per_epoch"] = out["exec.jobs"]
    last = result["traced_stats"][-1]
    out["streaming.state_bytes"] = float(last["state_bytes"])
    out["streaming.state_files"] = float(last["state_files"])
    written = sum(
        sum(c.get(f"{s}:write_bytes", 0.0) for s in STEPS) for c in p.counters
    ) / len(result["traced_stats"])
    out["streaming.write_amp"] = written / last["state_bytes"]
    out["streaming.pair_recall"] = last["pair_recall"]
    out["streaming.label_mismatches"] = float(last["label_mismatches"])
    out["streaming.docs_per_s"] = result["pass"].items / result["pass"].seconds
    return out
