"""The composed ingest boundary over a small backlog, pinned to the
sets it must produce, and the standalone screens on an empty batch.

The backlog exercises every path the shared signed relation and the
candidate-only near-dup verify touch: within-batch and cross-batch
near-dups, a benchmark near-copy, exact dups, a doc_id shared by an old
and a new document, a replayed batch, and a ``sigs`` store where one
batch's docs sit in both the compacted base and their source partition
(the `compact_neardup` kill-point state).
"""

from __future__ import annotations

import os
import shutil

from projetbigdatastreaming_spark.sinks.versioned import read_version
from projetbigdatastreaming_spark.streaming import curation as cur
from projetbigdatastreaming_spark.streaming import neardup as nd
from projetbigdatastreaming_spark.streaming.ingest import full_ingest_writer
from projetbigdatastreaming_spark.streaming.runner import quality_gate_writer
from projetbigdatastreaming_spark.streaming.sketches import cms_batch_writer

SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)
# 40 distinct words: a one-word edit keeps Jaccard >= 0.85, far above
# the 0.8 bar and far from an LSH miss
W = [f"w{i}" for i in range(40)]
BENCH = " ".join(f"benchword{i}" for i in range(40))


def _variant(last: str) -> str:
    return " ".join(W[:-1] + [last])


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", f"src{i % 2}", len(t)) for i, t in rows], SCHEMA
    )


def test_full_ingest_backlog_sets(spark, tmp_path):
    d = lambda n: str(tmp_path / n)  # noqa: E731
    nd.build_benchmark_index(
        spark,
        spark.createDataFrame([(900, BENCH)], "doc_id long, text string"),
        d("bench_idx"),
    )
    reference = _docs(
        spark,
        [(500 + i, f"ref doc {i} " + "filler words here " * 6) for i in range(10)],
    )
    cur.build_drift_reference(reference, d("drift_ref"))
    cur.build_bm25_stats(reference, d("bm25_ref"))
    write = full_ingest_writer(
        checks={"long_enough": "length(text) >= 20"},
        good_path=d("good"),
        quarantine_path=d("quarantine"),
        dedup_state_dir=d("dedup_state"),
        dups_dir=d("dups"),
        benchmark_index_dir=d("bench_idx"),
        contam_flags_dir=d("contam"),
        drift_ref_dir=d("drift_ref"),
        drift_metric_dir=d("drift_metrics"),
        bm25_ref_dir=d("bm25_ref"),
        bm25_scores_dir=d("bm25_scores"),
        neardup_index_dir=d("nd_idx"),
        neardup_flags_dir=d("nd_flags"),
        cms_state_dir=d("cms"),
        table_dir=d("published"),
    )
    x = " ".join(f"x{i}" for i in range(40))
    write(
        _docs(
            spark,
            [
                (1, " ".join(W)),
                (2, _variant("CHANGED")),  # within-batch near-dup of 1
                (3, "short"),  # fails the gate
                (4, _variant("OLD")),  # its id comes back in batch 1
                (12, x),
            ],
        ),
        0,
    )
    batch1 = _docs(
        spark,
        [
            (4, _variant("TWEAKED")),  # a new doc under an old doc's id
            (5, _variant("ALTERED")),  # cross near-dup of 1, 2 and old 4
            (6, x),  # exact dup of 12
            (7, BENCH.replace("benchword20", "EDITED")),  # bench near-copy
            (8, " ".join(f"y{i}" for i in range(40))),
            (11, BENCH),  # benchmark copy
        ],
    )
    write(batch1, 1)
    # kill-point state: batch 0's sig rows in the base AND the source
    sigs = os.path.join(d("nd_idx"), "sigs")
    shutil.copytree(
        os.path.join(sigs, "batch_id=0"), os.path.join(sigs, "batch_id=-1")
    )
    write(batch1, 1)  # at-least-once redelivery

    def rows(path, *cols):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).select(*cols).collect()
        )

    assert rows(d("nd_flags"), "doc_a", "doc_b", "batch_id") == sorted(
        [
            (1, 2, 0), (1, 4, 0), (2, 4, 0),
            # cross pairs: (old doc, new doc); old 4 never pairs with new 4
            (1, 4, 1), (2, 4, 1), (1, 5, 1), (2, 5, 1), (4, 5, 1),
            (12, 6, 1),
            # within batch 1
            (4, 5, 1), (7, 11, 1),
        ]
    )  # fmt: skip
    assert rows(d("contam"), "doc_a", "doc_b") == [(7, 900), (11, 900)]
    assert rows(d("dups"), "doc_id") == [(6,)]
    assert rows(d("quarantine"), "doc_id") == [(3,)]
    published = read_version(spark, d("published")).collect()
    assert sorted(r.doc_id for r in published) == [1, 2, 4, 4, 5, 8, 12]


def test_standalone_screens_on_empty_batch(spark, tmp_path):
    """Called alone, each screen keeps its empty-batch behaviour: it
    writes no batch partition.  The drift monitor is the exception it
    always was: it records the PSI of an empty batch."""
    d = lambda n: str(tmp_path / n)  # noqa: E731
    ref = _docs(spark, [(1, "ref doc about stream hash vector words")])
    cur.build_drift_reference(ref, d("drift_ref"))
    cur.build_bm25_stats(ref, d("bm25_ref"))
    nd.build_benchmark_index(spark, ref.select("doc_id", "text"), d("bench"))
    empty = spark.createDataFrame([], SCHEMA)
    screens = [
        (quality_gate_writer({"c": "n_chars > 0"}, d("good"), d("quar")),
         ["good", "quar"]),
        (cur.exact_dedup_screen_writer(d("dedup"), d("dups")),
         ["dedup", "dups"]),
        (nd.benchmark_screen_writer(d("bench"), d("contam")), ["contam"]),
        (cur.bm25_screen_writer(d("bm25_ref"), d("bm25")), ["bm25"]),
        (nd.near_dup_batch_writer(d("nd_idx"), d("nd_flags")),
         ["nd_idx", "nd_flags"]),
        (cms_batch_writer(d("cms"), "source"), ["cms"]),
    ]  # fmt: skip

    def partitions(out):
        return [
            os.path.join(root, n)
            for root, dirs, _ in os.walk(d(out))
            for n in dirs
            if n.startswith("batch_id=")
        ]

    for screen, outs in screens:
        screen(empty, 0)
        for out in outs:
            assert partitions(out) == [], out
    cur.drift_monitor_writer(d("drift_ref"), d("drift"))(empty, 0)
    assert len(partitions("drift")) == 1


def test_sign_batch_kernels_agree(spark):
    """Below `SIGN_AGG_MIN_DOCS` the batch signs per row (no
    aggregate in the plan), at or above it through the aggregate;
    both give the same relation."""
    docs = _docs(
        spark,
        [(1, " ".join(W)), (2, _variant("X")), (3, "a b"), (4, ""), (5, BENCH)],
    )

    def sign(n_docs):
        signed = nd.sign_batch(docs, n_docs)
        plan = signed._jdf.queryExecution().executedPlan().toString()
        rows = sorted(
            (r.doc_id, sorted(r.shingles), sorted(r.sh_hashes), r.sig)
            for r in signed.collect()
        )
        signed.unpersist()
        return "HashAggregate" in plan, rows

    agg_row, by_row = sign(5)
    agg_agg, by_agg = sign(nd.SIGN_AGG_MIN_DOCS)
    assert (agg_row, agg_agg) == (False, True)
    assert len(by_row) == 5
    assert by_row == by_agg
