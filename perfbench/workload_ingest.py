"""``ingest_backfill``: the whole ingest boundary over a document backlog.

Closed loop: the harness moves one pre-built file of ``DOCS_PER_FILE``
documents into the spool directory, waits until the stream has
committed the micro-batch that read it, then moves the next.  Each
batch runs the eight screens of ``full_ingest_writer`` and writes to
about ten state tables; its cost barely depends on its size, so fixed
batches show per-batch savings directly.

Documents are drawn with replacement from a seeded pool, so exact and
near duplicates occur; a few pool documents are also the frozen
benchmark suite, so decontamination fires.  The expected quarantine,
duplicate, contamination and published sets follow from the drawn
backlog and are checked after the timed window.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures
import tracing

SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
MIN_CHARS = 60
CHECKS = {"long_enough": f"n_chars >= {MIN_CHARS}"}
DOCS_PER_FILE = 200
POOL_DOCS = 3000
REFERENCE_DOCS = 300
BENCHMARK_DOCS = 40
SETUP_REPEATS = 3
#: batches before the window: the first one runs 20-40% slower while
#: the JIT compiles the screens
WARMUP_BATCHES = 1
#: the screens' near-dup threshold; pool documents whose best Jaccard
#: against the benchmark suite falls in [AMBIGUOUS_LO, AMBIGUOUS_HI)
#: are left out, so whether MinHash-LSH finds a pair never decides the
#: expected sets (at J >= 0.9 a 16x4 banding misses with p < 1e-7)
THRESHOLD = 0.8
AMBIGUOUS_LO, AMBIGUOUS_HI = 0.5, 0.9
#: every span the traced run records inside one batch, by layer
STAGES = {
    "streaming.runner.quality_gate": "quality_gate_writer",
    "streaming.curation.exact_dedup": "exact_dedup_screen_writer",
    "streaming.curation.drift": "drift_monitor_writer",
    "streaming.curation.bm25": "bm25_screen_writer",
    "streaming.neardup.benchmark_screen": "benchmark_screen_writer",
    "streaming.neardup.near_dup": "near_dup_batch_writer",
    "streaming.sketches.cms": "cms_batch_writer",
    "sinks.versioned.append_batch": "versioned_append_batch",
}
BATCH_SPAN = "streaming.ingest.full_ingest_writer"
#: trigger phases outside ``foreachBatch`` (``durationMs`` keys of the
#: query's progress records), as shares of the trigger
RUNNER_PHASES = {
    "latestOffset": "latest_offset",
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
}


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def build_inputs(seed: int, staging: str, n_files: int) -> dict:
    """Seeded pool, benchmark suite and backlog files."""
    rng = np.random.default_rng(seed)
    pool = fixtures.make_documents(rng, POOL_DOCS)
    texts, n_chars = pool["text"], pool["n_chars"]
    sh = [fixtures.word_shingles(t) for t in texts]
    long_docs = np.flatnonzero(n_chars >= MIN_CHARS)
    bench = [int(i) for i in rng.choice(long_docs, BENCHMARK_DOCS, replace=False)]
    drawable, contaminated = [], set()
    for i in range(POOL_DOCS):
        best = max(_jaccard(sh[i], sh[b]) for b in bench)
        if AMBIGUOUS_LO <= best < AMBIGUOUS_HI:
            continue
        drawable.append(i)
        if best >= THRESHOLD:
            contaminated.add(texts[i])
    os.makedirs(staging, exist_ok=True)
    files = []
    for f in range(n_files):
        idx = rng.choice(drawable, DOCS_PER_FILE)
        table = pa.table(
            {
                "doc_id": np.arange(
                    f * DOCS_PER_FILE, (f + 1) * DOCS_PER_FILE, dtype=np.int64
                ),
                "text": [texts[i] for i in idx],
                "lang": [pool["lang"][i] for i in idx],
                "source": [pool["source"][i] for i in idx],
                "n_chars": n_chars[idx],
            }
        )
        name = f"docs-{f:05d}.parquet"
        pq.write_table(table, os.path.join(staging, name))
        files.append((name, table))
    reference = pa.table({k: v[:REFERENCE_DOCS] for k, v in pool.items()})
    benchmark = pa.table(
        {
            "doc_id": np.arange(BENCHMARK_DOCS, dtype=np.int64) + 10**9,
            "text": [texts[i] for i in bench],
        }
    )
    return {
        "files": files,
        "reference": reference,
        "benchmark": benchmark,
        "contaminated": contaminated,
    }


def expected_sets(files: list, contaminated: set) -> dict[str, set]:
    """What the ingest boundary must produce for the fed files:
    gate failures are quarantined; a passed document whose text passed
    in an EARLIER batch is an exact dup; a passed document near the
    benchmark suite is contaminated; the rest is published."""
    seen: set[str] = set()
    out = {k: set() for k in ("quarantine", "dups", "contam", "published")}
    for _name, table in files:
        rows = table.to_pydict()
        passed = []
        for i, text, n in zip(rows["doc_id"], rows["text"], rows["n_chars"]):
            if n >= MIN_CHARS:
                passed.append((i, text))
            else:
                out["quarantine"].add(i)
        held = set()
        for i, text in passed:
            if text in seen:
                out["dups"].add(i)
                held.add(i)
            if text in contaminated:
                out["contam"].add(i)
                held.add(i)
        seen.update(t for _i, t in passed)
        out["published"].update(i for i, _t in passed if i not in held)
    return out


def actual_sets(spark, d) -> dict[str, set]:
    from projetbigdatastreaming_spark.sinks.versioned import read_version

    def ids(df, col):
        return {r[0] for r in df.select(col).collect()}

    def read(path, col):
        if not os.path.isdir(path):
            return set()
        return ids(spark.read.schema(f"{col} long").parquet(path), col)

    return {
        "quarantine": read(d("quarantine"), "doc_id"),
        "dups": read(d("dups"), "doc_id"),
        "contam": read(d("contam"), "doc_a"),
        "published": ids(read_version(spark, d("published")), "doc_id"),
    }


def build_references(spark, inputs: dict, ref_dir: str) -> None:
    from projetbigdatastreaming_spark.streaming.curation import (
        build_bm25_stats,
        build_drift_reference,
    )
    from projetbigdatastreaming_spark.streaming.neardup import (
        build_benchmark_index,
    )

    build_benchmark_index(
        spark, inputs["benchmark_df"], os.path.join(ref_dir, "bench_idx")
    )
    build_drift_reference(inputs["reference_df"], os.path.join(ref_dir, "drift"))
    build_bm25_stats(inputs["reference_df"], os.path.join(ref_dir, "bm25"))


def make_writer(ref_dir: str, d):
    from projetbigdatastreaming_spark.streaming.ingest import full_ingest_writer

    return full_ingest_writer(
        checks=CHECKS,
        good_path=d("good"),
        quarantine_path=d("quarantine"),
        dedup_state_dir=d("dedup_state"),
        dups_dir=d("dups"),
        benchmark_index_dir=os.path.join(ref_dir, "bench_idx"),
        contam_flags_dir=d("contam"),
        drift_ref_dir=os.path.join(ref_dir, "drift"),
        drift_metric_dir=d("drift_metrics"),
        bm25_ref_dir=os.path.join(ref_dir, "bm25"),
        bm25_scores_dir=d("bm25_scores"),
        neardup_index_dir=d("neardup_index"),
        neardup_flags_dir=d("neardup_flags"),
        cms_state_dir=d("cms"),
        table_dir=d("published"),
        neardup_threshold=THRESHOLD,
    )


def patch_stages(tracer: tracing.Tracer) -> list:
    """Put every stage the writer composes inside a span, through the
    module attributes ``full_ingest_writer`` looks them up by."""
    from projetbigdatastreaming_spark.sinks import versioned
    from projetbigdatastreaming_spark.streaming import curation, ingest, neardup

    owner = {
        "quality_gate_writer": ingest,
        "near_dup_batch_writer": ingest,
        "cms_batch_writer": ingest,
        "exact_dedup_screen_writer": curation,
        "drift_monitor_writer": curation,
        "bm25_screen_writer": curation,
        "benchmark_screen_writer": neardup,
    }
    undo = []
    for span, attr in STAGES.items():
        if attr == "versioned_append_batch":
            fn = tracer.wrap(span, versioned.versioned_append_batch)
            undo.append(tracing.patch_attr(versioned, attr, fn))
        else:
            mod = owner[attr]
            fn = tracing.wrap_factory(tracer, span, getattr(mod, attr))
            undo.append(tracing.patch_attr(mod, attr, fn))
    return undo


def _wait_committed(query, batch_id: int, timeout: float = 170.0) -> None:
    """Block until the stream has committed ``batch_id``."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if query.exception() is not None or not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        p = query.lastProgress
        if p and (
            p["batchId"] > batch_id
            or (p["batchId"] == batch_id and p["numInputRows"] > 0)
        ):
            return
        time.sleep(0.01)
    raise TimeoutError(f"batch {batch_id} not committed in {timeout}s")


def run(spark, work: str, seed: int, seconds: float, traced: bool) -> dict:
    from projetbigdatastreaming_spark.sources.files import parquet_stream
    from projetbigdatastreaming_spark.streaming.runner import run_foreach_batch

    def d(name):
        return os.path.join(work, name)

    sc = spark.sparkContext
    staging, spool = d("staging"), d("spool")
    os.makedirs(spool)
    # the warm-up files, then one per second of window: enough for a
    # program many times faster than today's
    inputs = build_inputs(seed, staging, WARMUP_BATCHES + 2 + int(seconds))
    inputs["reference_df"] = spark.createDataFrame(
        inputs["reference"].to_pandas(), SCHEMA
    )
    inputs["benchmark_df"] = spark.createDataFrame(
        inputs["benchmark"].to_pandas(), "doc_id long, text string"
    )

    ref_dir = d("refs")
    build_references(spark, inputs, ref_dir)
    tracer = tracing.Tracer()
    undo = patch_stages(tracer) if traced else []
    try:
        writer = make_writer(ref_dir, d)
    finally:
        for u in undo:
            u()
    api = tracing.RestApi(sc) if traced else None

    durations: dict[int, float] = {}

    def batch_fn(batch_df, batch_id):
        if traced:
            sc.setJobGroup(f"batch-{batch_id}", "ingest_backfill batch")
        tracer.active = traced and batch_id >= WARMUP_BATCHES
        t0 = time.perf_counter()
        with tracer.span(BATCH_SPAN):
            writer(batch_df, batch_id)
        durations[batch_id] = time.perf_counter() - t0

    query = run_foreach_batch(
        parquet_stream(spark, spool, SCHEMA),
        batch_fn,
        d("checkpoint"),
        trigger_seconds=None,
        query_name="ingest_backfill",
    )
    files = inputs["files"]
    cycles: list[float] = []
    setup: list[float] = []
    fed = 0
    poller = tracing.StoragePoller(api, tracer) if traced else None
    try:
        if poller:
            poller.start()
        for i, (name, _t) in enumerate(files):
            if i == WARMUP_BATCHES:
                # set-up is timed warm, once the JIT has seen the
                # screens, so its median is not a cold outlier
                for r in range(SETUP_REPEATS):
                    t0 = time.perf_counter()
                    build_references(spark, inputs, d(f"refs{r}"))
                    setup.append(time.perf_counter() - t0)
                window_t0 = time.perf_counter()
            elif i > WARMUP_BATCHES + 1 and time.perf_counter() - window_t0 >= seconds:
                break
            sc._jvm.System.gc()
            t0 = time.perf_counter()
            os.rename(os.path.join(staging, name), os.path.join(spool, name))
            _wait_committed(query, i)
            if i >= WARMUP_BATCHES:
                cycles.append(time.perf_counter() - t0)
            fed = i + 1
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    finally:
        if poller:
            poller.stop()
        query.stop()

    expected = expected_sets(files[:fed], inputs["contaminated"])
    actual = actual_sets(spark, d)
    bad_batches = set()
    for k in expected:
        for doc in expected[k] ^ actual[k]:
            bad_batches.add(doc // DOCS_PER_FILE)
    window = [durations[b] for b in range(WARMUP_BATCHES, fed)]
    detail = {
        "batches": fed,
        "window_batches": len(window),
        "warmup_batch_s": [durations[b] for b in range(WARMUP_BATCHES)],
        "cycle_s": cycles,
        "batch_s": window,
        "setup_s": setup,
        "mismatched_batches": sorted(bad_batches),
        "sizes": {k: len(v) for k, v in actual.items()},
    }
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "op_p50_s": (statistics.median(window), "s"),
        "cold_op_s": (durations[0], "s"),
    }
    layer = {}
    if traced:
        layer = _layer_metrics(
            api, tracer, poller, progress, durations, fed, actual, d
        )
        detail["self_s"] = tracer.self_times()
        detail["spans"] = tracer.spans
    return {
        "attempted": fed,
        "failed": len(bad_batches),
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }


def layer_units() -> dict[str, str]:
    units = {f"{span}_pct": "%" for span in STAGES}
    units.update(
        {
            "streaming.ingest.other_pct": "%",
            "streaming.runner.overhead_pct": "%",
            **{f"streaming.runner.{k}_pct": "%" for k in RUNNER_PHASES.values()},
            "state.neardup_index_bytes": "bytes",
            "state.exact_dedup_bytes": "bytes",
            "state.files_per_batch": "count",
            "streaming.ingest.admit_ratio": "ratio",
            "streaming.neardup.flags_per_batch": "count",
        }
    )
    return units


def _layer_metrics(api, tracer, poller, progress, durations, fed, actual, d):
    window = list(range(WARMUP_BATCHES, fed))
    groups = api.group_stats()
    out = tracing.engine_metrics(
        api,
        poller,
        [[groups.get(f"batch-{b}", {})] for b in window],
        [durations[b] for b in window],
    )
    traced_time = sum(durations[b] for b in window)
    totals = tracer.totals()
    pct = {f"{span}_pct": totals.get(span, 0.0) for span in STAGES}
    pct["streaming.ingest.other_pct"] = tracer.self_times().get(BATCH_SPAN, 0.0)
    vals = {k: 100.0 * v / traced_time for k, v in pct.items()}
    window_progress = [p for p in progress if p["batchId"] in window]
    ms = {
        k: sum(p["durationMs"].get(k, 0) for p in window_progress)
        for k in ("triggerExecution", "addBatch", *RUNNER_PHASES)
    }
    trig = max(1, ms["triggerExecution"])
    vals["streaming.runner.overhead_pct"] = (
        100.0 * (ms["triggerExecution"] - ms["addBatch"]) / trig
    )
    for k, name in RUNNER_PHASES.items():
        vals[f"streaming.runner.{name}_pct"] = 100.0 * ms[k] / trig
    vals["state.neardup_index_bytes"] = tracing.dir_bytes(d("neardup_index"))
    vals["state.exact_dedup_bytes"] = tracing.dir_bytes(d("dedup_state"))
    state_dirs = (
        "good quarantine dedup_state dups contam drift_metrics bm25_scores"
        " neardup_index neardup_flags cms published"
    ).split()
    n_files = sum(
        sum(len(fs) for _r, _d, fs in os.walk(d(s))) for s in state_dirs
    )
    vals["state.files_per_batch"] = n_files / fed
    vals["streaming.ingest.admit_ratio"] = len(actual["published"]) / (
        fed * DOCS_PER_FILE
    )
    flags = sum(
        pq.read_metadata(os.path.join(r, f)).num_rows
        for r, _d, fs in os.walk(d("neardup_flags"))
        for f in fs
        if f.endswith(".parquet")
    )
    vals["streaming.neardup.flags_per_batch"] = flags / fed
    units = layer_units()
    out.update({k: (v, units[k]) for k, v in vals.items()})
    return out
