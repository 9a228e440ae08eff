"""Streaming incremental dedup: micro-batches against a persistent band
index — drain, detection, index growth, and replay idempotence."""

from __future__ import annotations

from pyspark.sql import types as T

from purldb_spark.streaming.dedup_stream import dedup_sink, index_new_batch

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

BATCH1 = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (3, "completely different words about spark query engines here now"),
]
BATCH2 = [
    (2, "the quick brown fox jumps over the lazy cat today"),  # near-dup of 1
    (4, "yet another unrelated document of fresh vocabulary entirely"),
]


def test_streaming_incremental_dedup_end_to_end(spark, tmp_path):
    src = str(tmp_path / "incoming")
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(dedup_sink(spark, index_dir, pairs_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1 seeds the index; no prior index -> no pair decisions yet
    spark.createDataFrame(BATCH1, SCHEMA).write.mode("append").parquet(src)
    drain()
    bands = spark.read.parquet(index_dir + "/bands")
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {1, 3}

    # batch 2: doc 2 is a near-dup of indexed doc 1 -> one decision row
    spark.createDataFrame(BATCH2, SCHEMA).write.mode("append").parquet(src)
    drain()
    pairs = spark.read.parquet(pairs_dir).collect()
    assert {(r.new_id, r.index_id) for r in pairs} == {(2, 1)}
    assert pairs[0].jaccard >= 0.5
    bands = spark.read.parquet(index_dir + "/bands")
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        1, 2, 3, 4,
    }

    # replay the same batch body directly (simulated crash-recovery rerun):
    # anti-joins make it a no-op — no duplicate index keys, no duplicate
    # decisions
    n_bands = bands.count()
    index_new_batch(
        spark, spark.createDataFrame(BATCH2, SCHEMA), index_dir, pairs_dir
    )
    assert spark.read.parquet(index_dir + "/bands").count() == n_bands
    assert spark.read.parquet(pairs_dir).count() == 1


def test_exact_dup_precollapse_within_and_across_batches(spark, tmp_path):
    """r12 exact-dup pre-collapse: identical texts collapse to a
    representative BEFORE shingling — within the batch (min doc_id) and
    against the stored (md5, rep_id) table — so each distinct text is
    banded once, every copy still gets a jaccard-1.0 decision pair, and
    near-dups of a collapsed copy are found through the representative."""
    import os

    from purldb_spark.streaming.compact_stream import exact_index_path

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    T1 = "the quick brown fox jumps over the lazy dog today"
    U = "completely different words about spark query engines here now"

    # batch 1: docs 1 and 2 are byte-identical, 3 is distinct
    b1 = spark.createDataFrame([(1, T1), (2, T1), (3, U)], SCHEMA)
    index_new_batch(spark, b1, index_dir, pairs_dir)
    bands = spark.read.parquet(index_dir + "/bands")
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        1, 3,
    }  # only representatives reach the band index
    assert {
        (r.new_id, r.index_id, r.jaccard)
        for r in spark.read.parquet(pairs_dir).collect()
    } == {(2, 1, 1.0)}
    ex = spark.read.parquet(exact_index_path(index_dir))
    assert ex.count() == 2  # one row per distinct text
    assert {r.rep_id for r in ex.collect()} == {1, 3}

    # batch 2: doc 5 is an exact dup of STORED doc 1 -> collapses to the
    # stored rep with no new band rows and no new exact row; doc 6 is a
    # near-dup of T1 -> found through rep 1's bands
    b2 = spark.createDataFrame(
        [(5, T1), (6, T1.replace("dog", "cat"))], SCHEMA
    )
    index_new_batch(spark, b2, index_dir, pairs_dir)
    got = {
        (r.new_id, r.index_id)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert (5, 1) in got and (6, 1) in got and (2, 1) in got
    bands = spark.read.parquet(index_dir + "/bands")
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        1, 3, 6,
    }
    assert spark.read.parquet(exact_index_path(index_dir)).count() == 3

    # replay of batch 2 appends nothing anywhere
    n_pairs = spark.read.parquet(pairs_dir).count()
    n_bands = bands.count()
    index_new_batch(spark, b2, index_dir, pairs_dir)
    assert spark.read.parquet(pairs_dir).count() == n_pairs
    assert spark.read.parquet(index_dir + "/bands").count() == n_bands
    assert spark.read.parquet(exact_index_path(index_dir)).count() == 3
    assert os.path.isdir(exact_index_path(index_dir))


def test_exact_table_survives_compaction_and_respects_retention(spark, tmp_path):
    from purldb_spark.streaming.compact_stream import (
        compact_band_index,
        exact_index_path,
        prune_generations,
    )

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    T1 = "the quick brown fox jumps over the lazy dog today"
    U = "completely different words about spark query engines here now"
    b1 = spark.createDataFrame([(1, T1), (3, U)], SCHEMA)
    index_new_batch(spark, b1, index_dir, pairs_dir)

    # pure compaction rewrites the exact table into the new generation:
    # a post-compaction dup still collapses to the stored rep
    assert compact_band_index(spark, index_dir) == 1
    prune_generations(index_dir)
    assert spark.read.parquet(exact_index_path(index_dir)).count() == 2
    index_new_batch(
        spark, spark.createDataFrame([(7, T1)], SCHEMA), index_dir, pairs_dir
    )
    assert (7, 1) in {
        (r.new_id, r.index_id)
        for r in spark.read.parquet(pairs_dir).collect()
    }

    # retention evicting rep 1 drops its md5 row: the next dup of T1
    # re-enters as a fresh representative (the forget-the-window contract)
    keep = spark.createDataFrame([(3,)], "doc_id long")
    assert compact_band_index(spark, index_dir, retained_docs=keep) == 2
    prune_generations(index_dir)
    ex = spark.read.parquet(exact_index_path(index_dir))
    assert {r.rep_id for r in ex.collect()} == {3}
    index_new_batch(
        spark, spark.createDataFrame([(9, T1)], SCHEMA), index_dir, pairs_dir
    )
    ex = spark.read.parquet(exact_index_path(index_dir))
    assert {r.rep_id for r in ex.collect()} == {3, 9}


def test_null_text_docs_are_inert_not_bogus_dups(spark, tmp_path):
    """md5(NULL) is NULL: without the up-front filter, every null-text
    doc in a batch would share the null group key and be declared an
    exact-dup cluster. They must stay inert (no pairs, no index rows)."""
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    b = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text with several words here")],
        SCHEMA,
    )
    index_new_batch(spark, b, index_dir, pairs_dir)
    import os

    from purldb_spark.streaming.compact_stream import exact_index_path

    if os.path.isdir(pairs_dir):
        assert spark.read.parquet(pairs_dir).count() == 0
    assert {
        r.rep_id
        for r in spark.read.parquet(exact_index_path(index_dir)).collect()
    } == {3}


def _pairs(spark, pairs_dir):
    return {
        (r.new_id, r.index_id)
        for r in spark.read.parquet(pairs_dir).collect()
    }


def test_near_dups_arriving_in_one_batch_pair(spark, tmp_path):
    """Two near-duplicates in the same micro-batch pair with each other,
    on the first epoch (no index yet) and on a later one, oriented
    new_id = larger id as if the smaller had been indexed first."""
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    T1 = "the quick brown fox jumps over the lazy dog today"
    T2 = "pack my box with five dozen liquor jugs before noon strikes"
    U = "completely different words about spark query engines here now"

    b1 = spark.createDataFrame(
        [(1, T1), (3, T1.replace("dog", "cat")), (5, U)], SCHEMA
    )
    index_new_batch(spark, b1, index_dir, pairs_dir)
    assert _pairs(spark, pairs_dir) == {(3, 1)}
    assert spark.read.parquet(pairs_dir).first().jaccard >= 0.5

    # a later epoch: the within-batch pair (8, 6) rides next to the
    # cross-index pair (7, 1)
    b2 = spark.createDataFrame(
        [(6, T2), (8, T2.replace("noon", "dusk")), (7, T1.replace("today", "now"))],
        SCHEMA,
    )
    index_new_batch(spark, b2, index_dir, pairs_dir)
    got = _pairs(spark, pairs_dir)
    assert {(3, 1), (8, 6), (7, 1)} <= got
    assert all(n > i for n, i in got if {n, i} <= {1, 3, 6, 8})

    # a replay of the later batch appends nothing
    n_pairs = spark.read.parquet(pairs_dir).count()
    index_new_batch(spark, b2, index_dir, pairs_dir)
    assert spark.read.parquet(pairs_dir).count() == n_pairs


def test_crash_between_postings_and_bands_append_heals_on_replay(
    spark, tmp_path, monkeypatch
):
    """A crash in the middle of a batch's index appends must not leave a
    document banded without shingle postings: the replay guard is keyed
    on the bands table, so such a document would never get its postings,
    and no later near-duplicate of it could verify."""
    import os

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    real_parquet = DataFrameWriter.parquet
    failed: list[str] = []

    def parquet_failing_once(self, path, *args, **kwargs):
        if not failed and os.path.basename(path) == "shingles":
            failed.append(path)
            raise RuntimeError("simulated crash at the postings append")
        return real_parquet(self, path, *args, **kwargs)

    # epoch 0 seeds the index; epoch 1 (doc 1) crashes at its postings
    # append and is replayed; epoch 2 brings doc 1's near-duplicate
    index_new_batch(
        spark, spark.createDataFrame([BATCH1[1]], SCHEMA), index_dir, pairs_dir
    )
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_failing_once)
    b1 = spark.createDataFrame([BATCH1[0]], SCHEMA)
    with pytest.raises(RuntimeError, match="simulated crash"):
        index_new_batch(spark, b1, index_dir, pairs_dir)
    assert failed
    index_new_batch(spark, b1, index_dir, pairs_dir)  # the replay

    sh = spark.read.parquet(index_dir + "/shingles")
    assert {r.doc_id for r in sh.select("doc_id").distinct().collect()} == {1, 3}
    index_new_batch(
        spark, spark.createDataFrame([BATCH2[0]], SCHEMA), index_dir, pairs_dir
    )
    assert _pairs(spark, pairs_dir) == {(2, 1)}
