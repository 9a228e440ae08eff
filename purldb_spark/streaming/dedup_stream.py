"""Streaming face of incremental dedup: new documents arrive as a stream,
each micro-batch is checked against the PERSISTENT band index (one
equi-join per batch, operators/dedup.py::incremental_lsh_dedup), surviving
documents' band keys and shingle postings are appended to the index, and
detected duplicate pairs are appended to a decisions table.

EXACT-DUP PRE-COLLAPSE (r12): before any shingling, each batch collapses
identical texts — within the batch (min doc_id per md5 becomes the
representative) and against the stored (md5, rep_id) exact table of the
live generation. Collapsed docs emit a jaccard-1.0 decision pair to
their representative and NEVER reach the shingle/band stage, so each
distinct text is shingled, banded, and indexed exactly once. At 100 TB
this is the dominant saving: web-scale corpora run 30-50% exact dups,
and without the collapse every copy would pay the full fan-out AND
inflate its band buckets quadratically (k copies of one text = C(k,2)
band-join hits per band). Cluster semantics are unchanged: the
(dup, rep) edges put every copy in the representative's connected
component, and the component label stays the global min doc_id because
the label table sees every node (tests pin streamed == batch over
corpora WITH exact dups).

Within-batch near-dups pair too: the batch's own bands self-join next
to the cross-index probe, oriented (new_id=max, index_id=min) as if the
smaller id were indexed first — the simhash_stream recipe. Without it
two near-dups arriving in one epoch were both indexed without a probe
hit, and the replay/seen anti-joins made the miss permanent. The first
epoch (no index yet) pairs its near-dups the same way. Both candidate
sets verify against one shingle table.

Each epoch computes its shared frames once. A lazy frame re-runs its
whole lineage at every action, so without checkpoints every write
re-shingled and re-hashed the batch. The batch keyed by its exact-dup
representative, the never-seen representatives (``fresh``), their
replay-guarded shingles, the MinHash bands derived from them and the
candidate pairs are each ``localCheckpoint``-ed: the probes, the verify
and the appends read them. Stored tables are read with their known
schema, which spares a footer-inference job per read, and the verify
reads only the candidate partners' stored postings, not the whole
shingle table.

Append order closes the crash window: decisions, then shingle postings,
then bands, then the exact table. The replay guard is keyed on the bands
table, so a crash between postings and bands leaves the docs unbanded
and the replay re-appends their postings (the verify and compaction
de-duplicate). The reverse order could leave a doc banded with no
postings, and no later near-dup of it could ever verify.

This is the production deployment shape of the dedup family: the batch
queries (dedup_minhash_lsh, dedup_incremental) prove the math against the
oracle; this module is how it RUNS — foreachBatch over a streaming source.
Every write is made idempotent by an anti-join against the keys already
present (docs for the index, (new_id, index_id) for decisions), so a
replayed micro-batch after a crash re-derives the same deterministic band
keys and writes nothing twice — the exactly-once guarantee rides the
deterministic hashing, not the sink.

At 100 TB the index is a parquet/Delta table partitioned by
hash(band_key); each micro-batch costs O(batch x collision rate)
regardless of corpus size — the property measured in BENCH_scale.md
(dedup_incremental row). The index itself is kept O(retention window),
not O(history), by the compaction/TTL maintenance face in
compact_stream.py (generation-pointer swap; reads and appends here
resolve through it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.operators.dedup import (
    incremental_lsh_dedup,
    lsh_candidate_pairs,
    minhash_bands,
    verify_jaccard,
    word_shingles,
)


def _read(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """The table at ``path``, which this module writes with ``like``'s
    columns. Passing the known schema spares the Spark job that would
    infer it from the parquet footers."""
    return spark.read.schema(like.schema).parquet(path)


def index_new_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.5,
    lock_timeout: float = 60.0,
) -> None:
    """One micro-batch body: shingle + band the new docs, join them against
    each other and against the stored band index, verify candidates
    exactly against the batch's and the stored shingle postings, append
    decisions and the batch's keys (all appends idempotent via anti-joins
    on the natural keys).

    The whole resolve->read->append section holds compact_stream's
    :func:`writer_lock`: the generation pointer cannot swap between this
    batch resolving its paths and landing its appends, and a concurrent
    compaction cannot snapshot the old generation with this batch's
    appends still in flight (they would be silently dropped from the new
    generation). Appends are short, so the lock adds no steady-state
    stall; see compact_stream's module docstring for the 100 TB
    (table-format transaction) shape."""
    from purldb_spark.streaming.compact_stream import (
        exact_index_path,
        index_paths,
        writer_lock,
    )

    with writer_lock(index_dir, timeout=lock_timeout):
        # resolve through the generation pointer (compact_stream): appends
        # land in the live generation, so a post-compaction batch extends
        # the compacted index, not the superseded flat layout
        bands_path, sh_path = index_paths(index_dir)
        ex_path = exact_index_path(index_dir)

        # ---- exact-dup pre-collapse (module docstring) ----
        # null-text docs are dropped up front: md5(NULL) is NULL, and a
        # null group key would collapse every null-text doc in the batch
        # into one bogus "duplicate" cluster (they carried no shingles
        # and were silently inert before the collapse existed)
        docs = (
            batch_docs.select("doc_id", "text")
            .filter(F.col("text").isNotNull())
            .withColumn("md5", F.md5("text"))
        )
        # within-batch: min doc_id per md5 is the representative
        batch_reps = docs.groupBy("md5").agg(F.min("doc_id").alias("rep_id"))
        keyed = docs.join(batch_reps, "md5").localCheckpoint(
            eager=True  # one scan and grouping, three uses
        )
        in_batch_pairs = keyed.filter(
            F.col("doc_id") != F.col("rep_id")
        ).select(
            F.col("doc_id").alias("new_id"),
            F.col("rep_id").alias("index_id"),
            F.lit(1.0).alias("jaccard"),
        )
        reps = keyed.filter(F.col("doc_id") == F.col("rep_id")).drop("rep_id")
        # cross-batch: a representative whose text is already indexed
        # collapses to the STORED representative; a replayed batch finds
        # ITSELF stored, the self-pair filters out, and nothing appends
        if os.path.isdir(ex_path):
            stored = _read(
                spark,
                ex_path,
                reps.select("md5", F.col("doc_id").alias("rep_id")),
            ).select("md5", F.col("rep_id").alias("stored_rep"))
            hits = reps.join(stored, "md5")
            cross_pairs = hits.filter(
                F.col("doc_id") != F.col("stored_rep")
            ).select(
                F.col("doc_id").alias("new_id"),
                F.col("stored_rep").alias("index_id"),
                F.lit(1.0).alias("jaccard"),
            )
            fresh = reps.join(stored, "md5", "left_anti")
            exact_pairs = in_batch_pairs.unionByName(cross_pairs)
        else:
            fresh = reps
            exact_pairs = in_batch_pairs

        # shared by the shingling and the exact-table append
        fresh = fresh.localCheckpoint(eager=True)

        # ---- near-dup path: only never-seen texts are shingled ----
        sh_new = word_shingles(fresh, "doc_id", "text", n=3)
        have_index = os.path.isdir(bands_path)
        if have_index:
            # replay safety: drop docs already indexed before matching/
            # appending (bands append after postings, so a banded doc
            # always has its postings)
            indexed_docs = _read(
                spark, bands_path, fresh.select("doc_id")
            ).dropDuplicates()
            sh_new = sh_new.join(indexed_docs, "doc_id", "left_anti")
        # shingling and MinHash run once: the probes, the verify and the
        # appends all read these two
        sh_new = sh_new.localCheckpoint(eager=True)
        bands_new = minhash_bands(sh_new, "doc_id").localCheckpoint(eager=True)

        # candidates (id_a=new doc, id_b=partner). WITHIN-batch near-dups
        # come from a self-join of the batch's own bands, oriented
        # (larger, smaller) as if the smaller id were indexed first —
        # otherwise two near-dups arriving together are both indexed this
        # epoch and never pair; the cross-batch ones from the index probe
        cands = lsh_candidate_pairs(bands_new, "doc_id").select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
        if have_index:
            cands = cands.unionByName(
                incremental_lsh_dedup(
                    bands_new, _read(spark, bands_path, bands_new), "doc_id"
                ).select(
                    F.col("new_id").alias("id_a"),
                    F.col("index_id").alias("id_b"),
                )
            )
        # the verify reads the candidates three times
        cands = cands.localCheckpoint(eager=True)
        sh_all = sh_new
        if have_index:
            # only the candidate partners' stored postings reach the
            # de-duplicating union (a crash replay may re-append postings)
            partners = cands.select(F.col("id_b").alias("doc_id"))
            sh_all = sh_new.unionByName(
                _read(spark, sh_path, sh_new).join(
                    partners, "doc_id", "left_semi"
                )
            ).dropDuplicates()
        near_pairs = verify_jaccard(cands, sh_all, "doc_id", threshold).select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("index_id"),
            "jaccard",
        )
        pairs = near_pairs.unionByName(exact_pairs)
        if os.path.isdir(pairs_dir):
            seen = _read(spark, pairs_dir, pairs).select("new_id", "index_id")
            pairs = pairs.join(seen, ["new_id", "index_id"], "left_anti")
        pairs.write.mode("append").parquet(pairs_dir)

        # postings BEFORE bands: the replay guard above is keyed on the
        # bands table, so a crash between the two appends must leave the
        # docs unbanded (the replay re-appends their postings; the verify
        # and compaction de-duplicate) — never banded without postings,
        # which no replay could repair
        sh_new.write.mode("append").parquet(sh_path)
        bands_new.write.mode("append").parquet(bands_path)
        # the exact table gains one (md5, rep_id) row per never-seen text
        # (anti-joined above, so a replayed batch appends nothing twice)
        fresh.select("md5", F.col("doc_id").alias("rep_id")).write.mode(
            "append"
        ).parquet(ex_path)


def dedup_sink(spark: SparkSession, index_dir: str, pairs_dir: str):
    """foreachBatch callable wiring index_new_batch into a streaming query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        index_new_batch(spark, batch, index_dir, pairs_dir)

    return process
