"""Streaming twins of substring_dedup and dsir_importance: the folded
per-batch state must reproduce the batch operator EXACTLY (pinned
row-equal on the fixture corpus), and an at-least-once replay must
restate, not double-count."""

from __future__ import annotations

from projetbigdatastreaming_spark.catalog import load_table
from projetbigdatastreaming_spark.plans.llmdata import (
    q_dsir_importance,
    q_substring_dedup,
)
from projetbigdatastreaming_spark.streaming.curation import (
    dsir_batch_writer,
    read_dsir_distributions,
    read_dsir_importance,
    read_substring_profile,
    substring_fp_batch_writer,
)

SF = "/root/testdata/sf0.001"


def _doc_batches(spark, n=3):
    docs = load_table(spark, SF, "documents")
    return docs, [docs.where(f"doc_id % {n} = {i}") for i in range(n)]


def _rows(df):
    return [tuple(r) for r in df.orderBy("doc_id").collect()]


def test_substring_stream_fold_equals_batch(spark, tmp_path):
    """Fold of 3 micro-batches == one-pass batch profile, bit-equal
    including the double dup_frac (identical integer-ratio
    arithmetic on both paths)."""
    state = str(tmp_path / "sub_state")
    write = substring_fp_batch_writer(state)
    _, batches = _doc_batches(spark)
    for i, b in enumerate(batches):
        write(b, i)

    folded = _rows(read_substring_profile(spark, state))
    one_pass = _rows(q_substring_dedup(spark, SF))
    assert folded == one_pass


def test_substring_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "sub_state2")
    write = substring_fp_batch_writer(state)
    _, batches = _doc_batches(spark)
    for i, b in enumerate(batches):
        write(b, i)
    before = _rows(read_substring_profile(spark, state))
    write(batches[1], 1)  # at-least-once redelivery
    write(batches[1], 1)
    assert _rows(read_substring_profile(spark, state)) == before


def test_dsir_stream_fold_equals_batch(spark, tmp_path):
    """Fold of 3 micro-batches == one-pass batch scores: the reader
    rescored every doc under the corpus-so-far distributions, so even
    batch-0 docs carry final-distribution scores."""
    state = str(tmp_path / "dsir_state")
    write = dsir_batch_writer(state)
    _, batches = _doc_batches(spark)
    for i, b in enumerate(batches):
        write(b, i)

    folded = _rows(read_dsir_importance(spark, state))
    one_pass = _rows(q_dsir_importance(spark, SF))
    assert folded == one_pass


def test_dsir_replay_and_distributions(spark, tmp_path):
    """Replaying a batch restates its partition; the distributions
    view totals match the corpus token count."""
    state = str(tmp_path / "dsir_state2")
    write = dsir_batch_writer(state)
    docs, batches = _doc_batches(spark)
    for i, b in enumerate(batches):
        write(b, i)
    before = _rows(read_dsir_importance(spark, state))
    write(batches[2], 2)
    assert _rows(read_dsir_importance(spark, state)) == before

    dist = read_dsir_distributions(spark, state).collect()
    assert all(r.t_cnt <= r.s_cnt for r in dist)
    n_toks = sum(r.s_cnt for r in dist)
    # total tokens across all docs per the batch scorer's own output
    expected = sum(r.n_toks for r in q_dsir_importance(spark, SF).collect())
    assert n_toks == expected


def test_dsir_live_stream_foreachBatch(spark, tmp_path):
    """End-to-end through a real readStream: parquet spool, one file
    per trigger, foreachBatch writer; the fold matches the batch
    operator over everything ingested."""
    src = str(tmp_path / "dsir_src")
    state = str(tmp_path / "dsir_live")
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang"
    )
    schema = "doc_id long, text string, lang string"
    docs.where("doc_id % 2 = 0").coalesce(1).write.parquet(src)
    docs.where("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        src
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(dsir_batch_writer(state))
        .option("checkpointLocation", str(tmp_path / "dsir_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    folded = _rows(read_dsir_importance(spark, state))
    assert folded == _rows(q_dsir_importance(spark, SF))


def test_compact_state_preserves_profiles(spark, tmp_path):
    """Compaction must not change either reader's output, and must
    converge to a single base partition."""
    import os

    from projetbigdatastreaming_spark.streaming.curation import (
        compact_state,
    )
    from projetbigdatastreaming_spark.streaming.sketches import BASE_ID

    sub_state = str(tmp_path / "c_sub")
    dsir_state = str(tmp_path / "c_dsir")
    subw = substring_fp_batch_writer(sub_state)
    dsw = dsir_batch_writer(dsir_state)
    _, batches = _doc_batches(spark)
    for i, b in enumerate(batches):
        subw(b, i)
        dsw(b, i)
    before_sub = _rows(read_substring_profile(spark, sub_state))
    before_ds = _rows(read_dsir_importance(spark, dsir_state))

    assert compact_state(spark, sub_state) > 0
    assert compact_state(spark, dsir_state) > 0
    for st in (sub_state, dsir_state):
        parts = [n for n in os.listdir(st) if n.startswith("batch_id=")]
        assert parts == [f"batch_id={BASE_ID}"], parts
    assert _rows(read_substring_profile(spark, sub_state)) == before_sub
    assert _rows(read_dsir_importance(spark, dsir_state)) == before_ds
    # idempotent: compacting a compacted table is a no-op
    assert compact_state(spark, sub_state) > 0
    assert _rows(read_substring_profile(spark, sub_state)) == before_sub


def test_compact_state_readable_correct_at_kill_points(spark, tmp_path):
    """The idempotent-reader argument: kill the compaction between
    promote and deletes (rows exist BOTH in the base and in source
    partitions) — the deduping readers still return the exact
    profile with no recovery step."""
    import os as _os
    from unittest import mock

    from projetbigdatastreaming_spark.streaming import curation as cur
    from projetbigdatastreaming_spark.streaming.sketches import STAGING_ID

    state = str(tmp_path / "c_kill")
    write = substring_fp_batch_writer(state)
    _, batches = _doc_batches(spark)
    for i, b in enumerate(batches):
        write(b, i)
    want = _rows(read_substring_profile(spark, state))

    real_rename = _os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if src.endswith(f"batch_id={STAGING_ID}"):
            raise RuntimeError("killed after promote, before deletes")

    with mock.patch("os.rename", side_effect=dying_rename):
        try:
            cur.compact_state(spark, state)
        except RuntimeError:
            pass
    # base AND all source partitions present: reader still exact
    parts = [n for n in _os.listdir(state) if n.startswith("batch_id=")]
    assert len(parts) == len(batches) + 1, parts
    assert _rows(read_substring_profile(spark, state)) == want
    # next compaction converges
    cur.compact_state(spark, state)
    assert _rows(read_substring_profile(spark, state)) == want


def test_exact_dedup_screen_cross_batch(spark, tmp_path):
    """Exact dedup: a later batch's copy of an earlier batch's
    document is confirmed as a duplicate; novel docs are not;
    within-batch copies are not (batch-vs-corpus semantics); replaying
    a batch restates its dup partition; the fingerprint table is the
    screen's only state."""
    import os

    from projetbigdatastreaming_spark.streaming.curation import (
        exact_dedup_screen_writer,
    )

    state = str(tmp_path / "scr_state")
    dups = str(tmp_path / "scr_dups")
    write = exact_dedup_screen_writer(state, dups)
    schema = "doc_id long, text string"

    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"),
         (3, "delta epsilon zeta")],  # within-batch copy: NOT a dup
        schema,
    )
    b1 = spark.createDataFrame(
        [(10, "alpha beta gamma"),  # exact copy of doc 1 -> dup
         (11, "entirely new words here")],
        schema,
    )
    write(b0, 0)
    write(b1, 1)

    got = {r.doc_id for r in spark.read.parquet(dups).collect()}
    assert got == {10}, got

    # replay batch 1: restated, not duplicated
    write(b1, 1)
    rows = spark.read.parquet(dups).collect()
    assert [r.doc_id for r in rows] == [10]

    # a third batch duplicating batch-1 content still flags (the
    # fingerprint table kept growing through the screen itself)
    b2 = spark.createDataFrame(
        [(20, "entirely new words here")], schema
    )
    write(b2, 2)
    got2 = {r.doc_id for r in spark.read.parquet(dups).collect()}
    assert got2 == {10, 20}
    assert os.listdir(state) == ["fps"]


def test_benchmark_screen_stream_equals_batch(spark, tmp_path):
    """Streaming fuzzy decontamination: the flag fold over 3
    micro-batches equals the one-pass batch operator EXACTLY (the
    benchmark side is frozen, so batches screen independently), and a
    redelivery restates its partition without duplication."""
    from pyspark.sql import functions as F

    from projetbigdatastreaming_spark.plans.llmdata import (
        q_decontaminate_fuzzy,
    )
    from projetbigdatastreaming_spark.streaming.neardup import (
        benchmark_screen_writer,
        build_benchmark_index,
    )

    docs = load_table(spark, SF, "documents")
    bench = docs.where("doc_id % 50 = 0")
    train = docs.where("doc_id % 50 <> 0")
    index_dir = str(tmp_path / "bench_ix")
    flags_dir = str(tmp_path / "bench_flags")
    build_benchmark_index(spark, bench, index_dir)
    write = benchmark_screen_writer(index_dir, flags_dir)
    for i in range(3):
        write(train.where(f"doc_id % 3 = {i}"), i)

    def flags():
        return sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in spark.read.parquet(flags_dir)
            .select("doc_a", "doc_b", "jaccard")
            .collect()
        )

    got = flags()
    want = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in q_decontaminate_fuzzy(spark, SF).collect()
    )
    assert got == want and len(got) >= 1  # fixture has cross pairs

    write(train.where("doc_id % 3 = 1"), 1)  # redelivery
    assert flags() == got


def test_drift_monitor_stream_equals_batch_psi(spark, tmp_path):
    """The streaming drift monitor's PSI for (reference=even docs,
    batch=odd docs) must EQUAL the batch `psi_drift` query (which
    splits the same table the same way) — the stream/batch twin pin
    for the drift metric itself.  Replay re-appends, readers dedup."""
    from projetbigdatastreaming_spark.plans.quality import q_psi_drift
    from projetbigdatastreaming_spark.streaming.curation import (
        build_drift_reference,
        drift_monitor_writer,
        read_drift_metrics,
    )

    ref_dir = str(tmp_path / "drift_ref")
    metric_dir = str(tmp_path / "drift_metrics")
    docs = load_table(spark, SF, "documents")
    n = build_drift_reference(docs.where("doc_id % 2 = 0"), ref_dir)
    assert n > 0

    write = drift_monitor_writer(ref_dir, metric_dir)
    write(docs.where("doc_id % 2 = 1"), 0)

    got = {
        (r.feature, r.psi)
        for r in read_drift_metrics(spark, metric_dir).collect()
    }
    want = {
        (r.feature, r.psi) for r in q_psi_drift(spark, SF).collect()
    }
    assert got == {(f, p) for f, p in want}

    # at-least-once replay: same rows re-appended, reader dedups
    write(docs.where("doc_id % 2 = 1"), 0)
    again = {
        (r.feature, r.psi)
        for r in read_drift_metrics(spark, metric_dir).collect()
    }
    assert again == got

    # a DIFFERENT batch appends new metric rows under its batch_id
    write(docs.where("doc_id % 4 = 1"), 1)
    m = read_drift_metrics(spark, metric_dir)
    assert m.where("batch_id = 1").count() == 2


def test_bm25_screen_stream_equals_batch(spark, tmp_path):
    """Streaming BM25 under frozen stats == batch scoring under the
    same stats, bit-equal (shared expression); replay restates."""
    from projetbigdatastreaming_spark.plans.llmdata import (
        bm25_corpus_stats,
        bm25_per_doc,
        bm25_scored,
    )
    from projetbigdatastreaming_spark.streaming.curation import (
        bm25_screen_writer,
        build_bm25_stats,
        read_bm25_scores,
    )

    ref_dir = str(tmp_path / "bm25_ref")
    out_dir = str(tmp_path / "bm25_scores")
    docs, batches = _doc_batches(spark)
    build_bm25_stats(docs, ref_dir)

    write = bm25_screen_writer(ref_dir, out_dir)
    for i, b in enumerate(batches):
        write(b, i)
    write(batches[1], 1)  # at-least-once replay restates

    got = _rows(read_bm25_scores(spark, out_dir))
    stats = spark.read.parquet(ref_dir)
    want = _rows(
        bm25_scored(bm25_per_doc(docs), stats).select("doc_id", "bm25")
    )
    assert got == want
    # sanity: the frozen stats equal recomputing them from the corpus
    assert stats.collect() == bm25_corpus_stats(
        bm25_per_doc(docs)
    ).collect()


def test_ohlc_stream_fold_equals_batch(spark, tmp_path):
    """Streaming OHLC: the fold of per-batch partial candles over 3
    micro-batches equals the one-pass batch query EXACTLY (mergeable
    aggregate — open/close travel with their (ts, event_id) keys),
    and a redelivery restates its partition without double-counting."""
    from projetbigdatastreaming_spark.plans.timeseries import q_ohlc_bars
    from projetbigdatastreaming_spark.streaming.timeseries import (
        ohlc_batch_writer,
        read_ohlc,
    )

    ev = load_table(spark, SF, "events")
    state = str(tmp_path / "ohlc")
    write = ohlc_batch_writer(state)
    for i in range(3):
        write(ev.where(f"event_id % 3 = {i}"), i)

    def rows(df):
        return [tuple(r) for r in df.collect()]

    want = rows(q_ohlc_bars(spark, SF))
    got = rows(read_ohlc(spark, state))
    assert got == want and len(got) > 0

    write(ev.where("event_id % 3 = 1"), 1)  # at-least-once redelivery
    assert rows(read_ohlc(spark, state)) == want


def test_cusum_stream_fold_equals_batch(spark, tmp_path):
    """Streaming CUSUM monitor: additive daily partials over 3
    micro-batches fold to EXACTLY the batch changepoint query, and a
    redelivery restates instead of double-counting (which would shift
    every prefix and corrupt the alarm)."""
    from projetbigdatastreaming_spark.plans.timeseries import (
        q_cusum_changepoints,
    )
    from projetbigdatastreaming_spark.streaming.timeseries import (
        cusum_batch_writer,
        read_cusum,
    )

    ev = load_table(spark, SF, "events")
    state = str(tmp_path / "cusum")
    write = cusum_batch_writer(state)
    for i in range(3):
        write(ev.where(f"event_id % 3 = {i}"), i)

    def rows(df):
        return [tuple(r) for r in df.collect()]

    want = rows(q_cusum_changepoints(spark, SF))
    assert rows(read_cusum(spark, state)) == want and len(want) > 0

    write(ev.where("event_id % 3 = 2"), 2)  # at-least-once redelivery
    assert rows(read_cusum(spark, state)) == want
