"""Retraction (takedown / right-to-erasure) for the id-keyed
streaming states: a tombstoned document stops matching IMMEDIATELY,
the retraction survives at-least-once replay, and compaction makes
the drop physical while consuming exactly the tombstones it applied —
kill-point tested at both seams (between the two near-dup state
tables, and between promote and tombstone-consume)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projetbigdatastreaming_spark.catalog import load_table
from projetbigdatastreaming_spark.streaming.neardup import (
    compact_neardup,
    near_dup_batch_writer,
    retract_docs,
)
from projetbigdatastreaming_spark.streaming.tombstones import (
    pending_tombstone_files,
)

SF = "/root/testdata/sf0.001"
SCHEMA = "doc_id long, text string"

WORDS = " ".join(f"w{i}" for i in range(40))
NEAR = " ".join(f"w{i}" for i in range(39)) + " CHANGED"
NEAR2 = " ".join(f"w{i}" for i in range(39)) + " ALTERED"
NEAR3 = " ".join(f"w{i}" for i in range(39)) + " MUTATED"
OTHER = " ".join(f"x{i}" for i in range(40))


def _seed(spark, tmp_path):
    """Batch 0: doc 1 (WORDS) + doc 2 (OTHER); batch 1: doc 3
    (near-dup of 1).  Flags so far: {(1, 3)}."""
    index_dir = str(tmp_path / "rt_index")
    flags_dir = str(tmp_path / "rt_flags")
    writer = near_dup_batch_writer(index_dir, flags_dir, threshold=0.8)
    writer(spark.createDataFrame([(1, WORDS), (2, OTHER)], SCHEMA), 0)
    writer(spark.createDataFrame([(3, NEAR)], SCHEMA), 1)
    return index_dir, flags_dir, writer


def _flag_pairs(spark, flags_dir, batch_id=None):
    df = spark.read.parquet(flags_dir)
    if batch_id is not None:
        df = df.where(F.col("batch_id") == batch_id)
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def _sig_docs(spark, index_dir):
    return sorted(
        r.doc_id
        for r in spark.read.parquet(f"{index_dir}/sigs")
        .select("doc_id")
        .distinct()
        .collect()
    )


def test_neardup_retraction_stops_matching_mid_stream(spark, tmp_path):
    """After retracting doc 1, a new near-dup of it is NOT flagged
    against it — but still flags against the live doc 3 — with no
    compaction in between (the tombstone anti-join is immediate)."""
    index_dir, flags_dir, writer = _seed(spark, tmp_path)
    assert _flag_pairs(spark, flags_dir) == {(1, 3)}

    assert retract_docs(spark, index_dir, [1]) == 1
    writer(spark.createDataFrame([(5, NEAR2)], SCHEMA), 2)
    assert _flag_pairs(spark, flags_dir, batch_id=2) == {(3, 5)}


def test_neardup_retraction_survives_replay_and_compaction(
    spark, tmp_path
):
    """An at-least-once redelivery of the retracted doc's batch
    restates its index rows — the pending tombstone still suppresses
    them; compaction then drops the rows PHYSICALLY and consumes the
    tombstones, and the post-compaction probe stays retraction-true."""
    index_dir, flags_dir, writer = _seed(spark, tmp_path)
    retract_docs(spark, index_dir, [1])

    # redelivery of batch 0 restates doc 1's bands/sigs on disk
    writer(spark.createDataFrame([(1, WORDS), (2, OTHER)], SCHEMA), 0)
    writer(spark.createDataFrame([(5, NEAR2)], SCHEMA), 2)
    assert _flag_pairs(spark, flags_dir, batch_id=2) == {(3, 5)}

    nb, ns = compact_neardup(spark, index_dir)
    assert nb > 0 and ns > 0
    # physical drop + tombstones consumed
    assert _sig_docs(spark, index_dir) == [2, 3, 5]
    assert pending_tombstone_files(f"{index_dir}/tombstones") == []
    # post-compaction probe: still no match against the retracted doc
    writer(spark.createDataFrame([(7, NEAR3)], SCHEMA), 3)
    assert _flag_pairs(spark, flags_dir, batch_id=3) == {(3, 7), (5, 7)}


def test_neardup_compaction_kill_between_tables(
    spark, tmp_path, monkeypatch
):
    """Kill compact_neardup AFTER the bands table compacted but BEFORE
    the sigs table: the tombstones stay pending (un-consumed), every
    reader keeps anti-joining them, and the rerun converges."""
    from projetbigdatastreaming_spark.streaming import curation, neardup

    index_dir, flags_dir, writer = _seed(spark, tmp_path)
    retract_docs(spark, index_dir, [1])

    real = curation.compact_state
    calls = {"n": 0}

    def killer(spark_, state_dir, tombs=None, id_col=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed between bands and sigs")
        return real(spark_, state_dir, tombs, id_col)

    monkeypatch.setattr(curation, "compact_state", killer)
    with pytest.raises(RuntimeError):
        neardup.compact_neardup(spark, index_dir)
    monkeypatch.undo()

    # tombstones NOT consumed; retraction still effective mid-crash
    assert pending_tombstone_files(f"{index_dir}/tombstones") != []
    writer(spark.createDataFrame([(5, NEAR2)], SCHEMA), 2)
    assert _flag_pairs(spark, flags_dir, batch_id=2) == {(3, 5)}

    # rerun converges: physical drop everywhere, tombstones consumed
    compact_neardup(spark, index_dir)
    assert _sig_docs(spark, index_dir) == [2, 3, 5]
    assert pending_tombstone_files(f"{index_dir}/tombstones") == []


def test_neardup_compaction_kill_before_consume(
    spark, tmp_path, monkeypatch
):
    """Kill between the promote (rows physically dropped) and the
    tombstone consume: already-applied tombstones anti-join nothing,
    readers stay correct, and the rerun — exercising the
    base-partition-only rewrite path — consumes them."""
    from projetbigdatastreaming_spark.streaming import neardup

    index_dir, flags_dir, writer = _seed(spark, tmp_path)
    retract_docs(spark, index_dir, [1])

    def boom(files):
        raise RuntimeError("killed before tombstone consume")

    # compact_neardup imports delete_tombstone_files inside the
    # function body, so patch the source module
    from projetbigdatastreaming_spark.streaming import tombstones

    monkeypatch.setattr(tombstones, "delete_tombstone_files", boom)
    with pytest.raises(RuntimeError):
        neardup.compact_neardup(spark, index_dir)
    monkeypatch.undo()

    # rows already physically dropped, tombstones still pending
    assert _sig_docs(spark, index_dir) == [2, 3]
    assert pending_tombstone_files(f"{index_dir}/tombstones") != []
    writer(spark.createDataFrame([(5, NEAR2)], SCHEMA), 2)
    assert _flag_pairs(spark, flags_dir, batch_id=2) == {(3, 5)}

    # rerun: base-only state + pending tombstones still rewrites,
    # then consumes
    compact_neardup(spark, index_dir)
    assert pending_tombstone_files(f"{index_dir}/tombstones") == []
    assert _sig_docs(spark, index_dir) == [2, 3, 5]


def test_ann_retraction_excludes_vector_and_compacts(spark, tmp_path):
    """ANN index takedown: a retracted vector disappears from
    read_ann_codes and from the next batch's neighbor flags
    immediately; compaction drops its codes physically and consumes
    the tombstones."""
    from projetbigdatastreaming_spark.plans.llmdata import (
        IVF_N_LISTS,
        IVF_NPROBE,
        PQ_K,
        PQ_M,
        TOPK,
    )
    from projetbigdatastreaming_spark.streaming.annindex import (
        ann_ingest_writer,
        build_ann_model,
        compact_ann_index,
        read_ann_codes,
        retract_vectors,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    )
    index_dir = str(tmp_path / "ann_rt")
    flags_dir = str(tmp_path / "ann_rt_flags")
    build_ann_model(emb, index_dir, n_lists=IVF_N_LISTS, k=PQ_K)
    write = ann_ingest_writer(
        index_dir, flags_dir, k_top=TOPK, nprobe=IVF_NPROBE, m=PQ_M
    )
    write(emb.where("vec_id % 3 = 0"), 0)
    write(emb.where("vec_id % 3 = 1"), 1)

    # pick a batch-0/1 vector that IS someone's neighbor so the test
    # bites: the most-flagged neighbor so far
    top = (
        spark.read.parquet(flags_dir)
        .groupBy("vec_id")
        .count()
        .orderBy(F.desc("count"), "vec_id")
        .first()
    )
    victim = int(top["vec_id"])

    retract_vectors(spark, index_dir, [victim])
    live = {r.vec_id for r in read_ann_codes(spark, index_dir).collect()}
    assert victim not in live

    write(emb.where("vec_id % 3 = 2"), 2)
    b2_neighbors = {
        r.vec_id
        for r in spark.read.parquet(flags_dir)
        .where(F.col("batch_id") == 2)
        .collect()
    }
    assert b2_neighbors and victim not in b2_neighbors

    assert compact_ann_index(spark, index_dir) > 0
    raw = {
        r.vec_id
        for r in spark.read.parquet(f"{index_dir}/codes").collect()
    }
    assert victim not in raw
    assert pending_tombstone_files(f"{index_dir}/tombstones") == []


def test_curation_retraction_equals_filtered_batch(spark, tmp_path):
    """The strongest retraction pin: after tombstoning docs D, BOTH
    curation readers equal the batch operator run on corpus-minus-D —
    for DSIR that means every surviving doc is RESCORED under the
    post-takedown distributions, not frozen at ingest-time scores."""
    from projetbigdatastreaming_spark.plans.llmdata import (
        dsir_doc_bucket_tf,
        dsir_score,
        substring_doc_fp_counts,
        substring_profile,
    )
    from projetbigdatastreaming_spark.streaming.curation import (
        compact_curation,
        dsir_batch_writer,
        read_dsir_importance,
        read_substring_profile,
        retract_curation_docs,
        substring_fp_batch_writer,
    )

    docs = load_table(spark, SF, "documents")
    gone = [0, 3]
    kept = docs.where(~F.col("doc_id").isin(gone))

    sub_state = str(tmp_path / "rt_sub")
    dsir_state = str(tmp_path / "rt_dsir")
    sub_w = substring_fp_batch_writer(sub_state)
    dsir_w = dsir_batch_writer(dsir_state)
    for i in range(3):
        b = docs.where(f"doc_id % 3 = {i}")
        sub_w(b, i)
        dsir_w(b, i)
    retract_curation_docs(spark, sub_state, gone)
    retract_curation_docs(spark, dsir_state, gone)

    def rows(df):
        return [tuple(r) for r in df.orderBy("doc_id").collect()]

    assert rows(read_substring_profile(spark, sub_state)) == rows(
        substring_profile(substring_doc_fp_counts(kept))
    )
    assert rows(read_dsir_importance(spark, dsir_state)) == rows(
        dsir_score(dsir_doc_bucket_tf(kept))
    )

    # compaction makes the drop physical, consumes the tombstones,
    # and the readers still agree with the filtered batch operator
    assert compact_curation(spark, sub_state) > 0
    assert compact_curation(spark, dsir_state) > 0
    assert pending_tombstone_files(sub_state + ".tombstones") == []
    assert (
        spark.read.parquet(sub_state)
        .where(F.col("doc_id").isin(gone))
        .count()
        == 0
    )
    assert rows(read_substring_profile(spark, sub_state)) == rows(
        substring_profile(substring_doc_fp_counts(kept))
    )

    # a retraction AFTER compaction hits the base-partition-only
    # rewrite path (a pending tombstone forces the rewrite even with
    # nothing but the base on disk)
    gone2 = gone + [6]
    kept2 = docs.where(~F.col("doc_id").isin(gone2))
    retract_curation_docs(spark, sub_state, [6])
    compact_curation(spark, sub_state)
    assert (
        spark.read.parquet(sub_state)
        .where(F.col("doc_id").isin(gone2))
        .count()
        == 0
    )
    assert rows(read_substring_profile(spark, sub_state)) == rows(
        substring_profile(substring_doc_fp_counts(kept2))
    )


def test_compact_fully_retracted_curation_state(spark, tmp_path):
    """Retracting every document of a curation table, then compacting:
    an EMPTY base lands, the tombstones are consumed and the reader
    returns no rows (a dynamic-partition staging write of the empty
    fold used to create no staging partition, so the compaction raised
    and the takedown never became physical)."""
    import os

    from projetbigdatastreaming_spark.streaming.curation import (
        compact_curation,
        read_substring_profile,
        retract_curation_docs,
        substring_fp_batch_writer,
    )

    state = str(tmp_path / "rt_all")
    substring_fp_batch_writer(state)(
        spark.createDataFrame([(1, WORDS), (2, OTHER)], SCHEMA), 0
    )
    retract_curation_docs(spark, state, [1, 2])

    assert compact_curation(spark, state) == 0
    parts = [n for n in os.listdir(state) if n.startswith("batch_id=")]
    assert parts == ["batch_id=-1"], parts
    assert pending_tombstone_files(state + ".tombstones") == []
    assert read_substring_profile(spark, state).count() == 0


def test_retract_cli(spark, tmp_path):
    """maintain retract-neardup / compact-neardup round-trip through
    the CLI."""
    from projetbigdatastreaming_spark.__main__ import main

    index_dir, flags_dir, writer = _seed(spark, tmp_path)
    rc = main(
        ["maintain", "retract-neardup", index_dir, "--ids", "1"],
        spark=spark,
    )
    assert rc == 0
    writer(spark.createDataFrame([(5, NEAR2)], SCHEMA), 2)
    assert _flag_pairs(spark, flags_dir, batch_id=2) == {(3, 5)}
    assert main(["maintain", "compact-neardup", index_dir], spark=spark) == 0
    assert _sig_docs(spark, index_dir) == [2, 3, 5]
    assert main(
        ["maintain", "retract-ann", str(tmp_path / "nope")], spark=spark
    ) == 2


def test_index_status_reflects_lifecycle(spark, tmp_path):
    """index_status tracks the ingest -> retract -> compact lifecycle:
    per-batch partition counts, pending tombstones, and the compacted
    flag flipping once everything folds to the base partition."""
    from projetbigdatastreaming_spark.streaming.monitoring import (
        index_status,
    )

    index_dir, flags_dir, writer = _seed(spark, tmp_path)

    def status():
        return {
            r.family: (r.n_rows, r.n_batch_partitions, r.compacted)
            for r in index_status(spark, index_dir).collect()
        }

    s = status()
    assert s["sigs"][1] == 2 and not s["sigs"][2]  # 2 batches, not compacted
    assert "tombstones" not in s

    retract_docs(spark, index_dir, [1])
    s = status()
    assert s["tombstones"][0] == 1  # one pending retraction

    compact_neardup(spark, index_dir)
    s = status()
    assert s["sigs"] == (2, 1, True)  # doc 1 dropped, folded to base
    assert s["bands"][1] == 1 and s["bands"][2]
    assert "tombstones" not in s or s["tombstones"][0] == 0

    from projetbigdatastreaming_spark.__main__ import main

    assert main(["maintain", "index-status", index_dir], spark=spark) == 0
