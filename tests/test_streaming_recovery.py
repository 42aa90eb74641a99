"""Checkpoint fault-tolerance of the stateful streaming replays. The
session-window sessionizer is stopped mid-replay and restarted from its
checkpoint, and the final answer must STILL equal the batch oracle —
which can only happen if the session state is restored from the state
store (a restart that lost it would count only the new chunk's
sessions). In complete mode a restart that ignored the checkpoint
would re-read every chunk and still produce the right table, so the
checkpoint's commits/ log pins that source offsets resumed."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.events import (
    sessionization,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.events_stream import (
    events_chunks,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.replay import (
    mkdtemp,
    read_chunks,
    run_bounded,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.sessionize import (
    session_counts,
)

from conftest import SF_SMOKE


def _committed_batches(ckpt_dir: str) -> int:
    # the checkpoint's commits/ log is the direct contract: one entry
    # per COMMITTED micro-batch (output part-file counts depend on how
    # many files each write happens to emit)
    commits = os.path.join(ckpt_dir, "commits")
    return len([f for f in os.listdir(commits) if not f.startswith(".")])


def _run_phase(spark, watch_dir: str, schema, ckpt: str, out: str) -> None:
    # complete mode: every micro-batch writes the whole session table,
    # so ``out`` holds the last committed batch's complete output
    raw = read_chunks(spark, watch_dir, schema)
    run_bounded(
        session_counts(raw)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, _bid: df.write.mode("overwrite").parquet(out)),
        "8",
    )


def test_sessionizer_recovers_state_from_checkpoint(spark, tmp_path):
    src = events_chunks(spark, SF_SMOKE, 3)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    chunks = sorted(f for f in os.listdir(src.path) if f.endswith(".parquet"))
    assert len(chunks) == 3
    for f in chunks[:2]:  # phase 1 sees only the first two time slices
        shutil.copy2(os.path.join(src.path, f), os.path.join(watch, f))

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "sessions")
    _run_phase(spark, watch, src.schema, ckpt, out)
    assert _committed_batches(ckpt) == 2  # one micro-batch per chunk file
    # simulated failure window: the query is down while data arrives
    shutil.copy2(os.path.join(src.path, chunks[2]), os.path.join(watch, chunks[2]))
    _run_phase(spark, watch, src.schema, ckpt, out)  # restart from the SAME checkpoint
    # offsets resumed: phase 2 committed exactly ONE more micro-batch
    # (the new chunk), not a re-read of all three
    assert _committed_batches(ckpt) == 3

    got = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("count").alias("n_events"),
        )
    )
    expected = sessionization(spark, SF_SMOKE).select(
        "user_id", "n_sessions", "n_events"
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_neardup_probe_recovers_offsets_from_checkpoint(spark, tmp_path):
    """Checkpoint fault-tolerance of the incremental near-dup probe
    (r11): the replay is stopped after the first ingest chunks, a new
    chunk arrives during the outage, and a restart from the SAME
    checkpoint must (a) resume source offsets — NOT re-probe consumed
    chunks — and (b) end with the final pair set equal to an
    uninterrupted replay of the whole ingest. The at-least-once corner
    (a batch whose parquet append landed but whose offset commit did
    not) is absorbed by pair-identity DISTINCT in the final read —
    exercised here by force-duplicating one batch's output."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _chunked_probe_docs_dir,
        _final_pairs,
        _run_probe_phase,
        _store_bands,
        stream_neardup_probe,
    )

    src = _chunked_probe_docs_dir(spark, SF_SMOKE, 3)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    chunks = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(chunks) == 3
    for f in chunks[:2]:  # phase 1 sees only the first two ingest batches
        shutil.copy2(os.path.join(src, f), os.path.join(watch, f))

    store = _store_bands(spark, SF_SMOKE)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "pairs")
    _run_probe_phase(spark, store, watch, out, checkpoint_dir=ckpt)
    assert _committed_batches(ckpt) == 2  # one micro-batch per chunk file
    # outage window: a new ingest batch lands while the query is down
    shutil.copy2(os.path.join(src, chunks[2]), os.path.join(watch, chunks[2]))
    _run_probe_phase(spark, store, watch, out, checkpoint_dir=ckpt)

    got = [tuple(r) for r in _final_pairs(spark, out).collect()]
    want = [tuple(r) for r in stream_neardup_probe(spark, SF_SMOKE).collect()]
    assert got == want and len(got) > 0

    # offsets resumed: phase 2 committed exactly ONE more micro-batch
    # (the new chunk), not a re-probe of all three
    assert _committed_batches(ckpt) == 3

    # at-least-once corner: duplicate one batch's entire output files —
    # the DISTINCT in the final read must absorb the replayed pairs
    dup_src = [f for f in os.listdir(out) if f.endswith(".parquet")]
    for f in dup_src:
        shutil.copy2(os.path.join(out, f), os.path.join(out, "dup_" + f))
        break
    redup = [tuple(r) for r in _final_pairs(spark, out).collect()]
    assert redup == want


def test_neardup_store_maintenance_recovery_and_chunk_invariance(spark, tmp_path):
    """Fault tolerance of the MAINTAINED-store loop (r12): unlike the
    immutable-store probe, a replayed batch here has already appended
    its own band rows — the src < s store filter must keep the replay
    from probing the batch against itself. Three contracts in one
    bounded corpus: (a) stop/restart from the checkpoint resumes
    offsets and still equals an uninterrupted run; (b) a FULL re-replay
    over the same store/pairs dirs (fresh checkpoint, worst-case
    at-least-once: every batch re-runs after its appends landed)
    changes nothing; (c) the final answer is invariant to the chunk
    count (1/2/5 — multi-source micro-batches exercise the per-source
    sub-loop) because contiguous chunks preserve global source order."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _chunked_ingest_dir,
        _final_pairs,
        _init_store_bands_dir,
        _run_maintenance_phase,
        stream_neardup_store_maintenance,
    )

    src = _chunked_ingest_dir(spark, SF_SMOKE, 3)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    chunks = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(chunks) == 3
    for f in chunks[:2]:
        shutil.copy2(os.path.join(src, f), os.path.join(watch, f))

    store_dir = _init_store_bands_dir(spark, SF_SMOKE)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "pairs")
    _run_maintenance_phase(spark, store_dir, watch, out, checkpoint_dir=ckpt)
    # outage window: the third ingest batch lands while the query is down
    shutil.copy2(os.path.join(src, chunks[2]), os.path.join(watch, chunks[2]))
    _run_maintenance_phase(spark, store_dir, watch, out, checkpoint_dir=ckpt)

    want = [
        tuple(r) for r in stream_neardup_store_maintenance(spark, SF_SMOKE).collect()
    ]
    got = [tuple(r) for r in _final_pairs(spark, out).collect()]
    assert got == want and len(got) > 0

    # (b) worst-case at-least-once: re-replay EVERY batch against the
    # already-grown store (fresh checkpoint, same store/pairs dirs) —
    # the src-filtered store read + the two DISTINCTs absorb it all
    _run_maintenance_phase(
        spark, store_dir, watch, out, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    replayed = [tuple(r) for r in _final_pairs(spark, out).collect()]
    assert replayed == want

    # (c) chunk-count invariance, incl. multi-source micro-batches
    for n in (1, 5):
        alt = [
            tuple(r)
            for r in stream_neardup_store_maintenance(
                spark, SF_SMOKE, n_chunks=n
            ).collect()
        ]
        assert alt == want, f"n_chunks={n} diverged"


def test_store_compaction_is_answer_preserving(spark, tmp_path):
    """r13 compaction certification at the unit layer (the registry op
    certifies the whole loop against the maintenance oracle): with
    fault-injected duplicate appends in the persisted store, the
    whole-batch probe's answer is IDENTICAL (a) before injection,
    (b) with the duplicates present (read-side DISTINCT), and
    (c) after compaction — and the compaction itself halves the
    injected row count back to the distinct set and is idempotent."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _NEARDUP_STORE_SOURCES,
        _banded_prefix_pairs,
        _bands_with_src,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        simhash_sig,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _STORE_BANDS_SCHEMA,
        _init_store_bands_dir,
        _inject_duplicate_appends,
        _src_num,
        _store_pred,
        compact_store_bands,
    )

    store_dir = _init_store_bands_dir(spark, SF_SMOKE)
    docs = load(spark, SF_SMOKE, "documents")
    batch_docs = docs.filter(~_store_pred(F.col("source"))).select(
        "doc_id", "text", _src_num(F.col("source")).alias("src")
    )
    batch_bands = _bands_with_src(
        simhash_sig(batch_docs, spark), batch_docs
    ).localCheckpoint(eager=True)

    def probe():
        store = (
            spark.read.schema(_STORE_BANDS_SCHEMA)
            .parquet(store_dir)
            .filter(F.col("src") < _NEARDUP_STORE_SOURCES)
            .distinct()
        )
        return [tuple(r) for r in _banded_prefix_pairs(batch_bands, store).collect()]

    want = probe()
    assert want

    _inject_duplicate_appends(store_dir)
    n_dup = spark.read.schema(_STORE_BANDS_SCHEMA).parquet(store_dir).count()
    assert probe() == want  # duplicates absorbed by the read-side DISTINCT

    n_before, n_after = compact_store_bands(spark, store_dir)
    assert n_before == n_dup and n_before == 2 * n_after
    assert probe() == want  # compaction moved no answer

    # idempotent: a second compaction finds nothing to drop
    n_before2, n_after2 = compact_store_bands(spark, store_dir)
    assert n_before2 == n_after2 == n_after


def test_maintenance_replay_survives_an_empty_micro_batch(spark, tmp_path):
    """A micro-batch with ZERO accepted docs must
    flow through the STREAMING maintenance path end-to-end (the
    min_src-None guard in _probe_and_grow was previously exercised only
    at the unit layer) — an empty chunk file spliced into the replay
    order must change nothing: same final pairs, same store growth."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _MAINT_DOC_SCHEMA,
        _chunked_ingest_dir,
        _final_pairs,
        _init_store_bands_dir,
        _run_maintenance_phase,
        stream_neardup_store_maintenance,
    )

    src = _chunked_ingest_dir(spark, SF_SMOKE, 3)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            shutil.copy2(os.path.join(src, f), os.path.join(watch, f))

    # an empty micro-batch between chunk 0 and chunk 1 (FileStreamSource
    # replays in mtime order; the chunker pins 1_700_000_000 + i)
    staging = str(tmp_path / "empty_staging")
    spark.createDataFrame([], _MAINT_DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    empty_path = os.path.join(watch, "chunk_000_b.parquet")
    shutil.copy2(os.path.join(staging, part), empty_path)
    os.utime(empty_path, (1_700_000_000.5, 1_700_000_000.5))

    store_dir = _init_store_bands_dir(spark, SF_SMOKE)
    out = str(tmp_path / "pairs")
    _run_maintenance_phase(spark, store_dir, watch, out)
    want = [
        tuple(r) for r in stream_neardup_store_maintenance(spark, SF_SMOKE).collect()
    ]
    got = [tuple(r) for r in _final_pairs(spark, out).collect()]
    assert got == want and len(got) > 0


def test_compaction_op_equals_maintenance_op(spark):
    """The registry-level invariance pin: the compaction op (duplicate
    injection + mid-stream compaction + split replay) returns the
    maintenance op's exact rows — they certify against the same oracle
    by construction, and this ties the two Spark paths directly."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        stream_neardup_store_compaction,
        stream_neardup_store_maintenance,
    )

    want = [
        tuple(r) for r in stream_neardup_store_maintenance(spark, SF_SMOKE).collect()
    ]
    got = [
        tuple(r) for r in stream_neardup_store_compaction(spark, SF_SMOKE).collect()
    ]
    assert got == want and len(got) > 0


def test_compaction_swap_is_crash_safe_at_every_point(spark, tmp_path):
    """Backs compact_store_bands' crash-safety claim by construction:
    replay the swap protocol (stage distinct -> rename staged in ->
    delete old) step by step — textually mirroring the helper's file
    operations; update BOTH if the protocol changes — and probe the
    store at EVERY intermediate state, including every partial-delete
    prefix. The new-then-delete ordering guarantees each state holds a
    superset of the distinct band rows (all-old before the renames, a
    complete new set from the first delete onward), so the read-side
    DISTINCT makes every crash point answer-identical."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _NEARDUP_STORE_SOURCES,
        _banded_prefix_pairs,
        _bands_with_src,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        simhash_sig,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _STORE_BANDS_SCHEMA,
        _init_store_bands_dir,
        _inject_duplicate_appends,
        _src_num,
        _store_pred,
    )

    store_dir = _init_store_bands_dir(spark, SF_SMOKE)
    _inject_duplicate_appends(store_dir)

    docs = load(spark, SF_SMOKE, "documents")
    batch_docs = docs.filter(~_store_pred(F.col("source"))).select(
        "doc_id", "text", _src_num(F.col("source")).alias("src")
    )
    batch_bands = _bands_with_src(
        simhash_sig(batch_docs, spark), batch_docs
    ).localCheckpoint(eager=True)

    def probe():
        store = (
            spark.read.schema(_STORE_BANDS_SCHEMA)
            .parquet(store_dir)
            .filter(F.col("src") < _NEARDUP_STORE_SOURCES)
            .distinct()
        )
        return [tuple(r) for r in _banded_prefix_pairs(batch_bands, store).collect()]

    want = probe()
    assert want

    # -- the swap protocol, replayed with a probe between every step --
    before = spark.read.schema(_STORE_BANDS_SCHEMA).parquet(store_dir)
    n_distinct = before.distinct().count()  # captured while old files exist
    # staging must share the store dir's temp root: the swap replay
    # uses os.rename exactly like compact_store_bands, and pytest's
    # tmp_path can sit on a different mount (EXDEV)
    staging = mkdtemp("compact_crash_staging_")
    before.distinct().write.mode("overwrite").parquet(staging)
    assert probe() == want  # crash after staging: store untouched

    old = sorted(f for f in os.listdir(store_dir) if f.endswith(".parquet"))
    new = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    for i, f in enumerate(new):
        os.rename(os.path.join(staging, f), os.path.join(store_dir, f))
        if i == 0:
            assert probe() == want  # crash mid-rename: old + partial new
    assert probe() == want  # crash after renames: old + full new (dup-heavy)

    for f in old:
        os.remove(os.path.join(store_dir, f))
        assert probe() == want  # crash after EVERY partial delete

    # final state == a completed compaction: distinct rows only
    n_final = spark.read.schema(_STORE_BANDS_SCHEMA).parquet(store_dir).count()
    assert n_final == n_distinct


def test_store_lifecycle_interleaving_patrol(spark):
    """Hypothesis patrol over compactions and crashes INTERLEAVED with
    store appends (the crash-point test above walks sequential crash
    points of one compaction). Drive the
    maintenance loop batch-by-batch (three contiguous multi-source
    batches over the ten ingest sources — the certified batch shape)
    with a Hypothesis-chosen lifecycle action in every gap:

    - ``compact``      — a full compaction between appends
    - ``inject``       — at-least-once duplicate appends land
    - ``crash_swap``   — a compaction dies between its two swap loops
                         (staged files IN, old files never removed:
                         the dup-heaviest crash state)
    - ``only_retry``   — every live part file is a retry_-named
                         duplicate copy (original names gone)

    Invariant: the pairs each batch emits AND the final store's
    distinct row set are IDENTICAL to the action-free run — no
    interleaving of maintenance operations can move an answer.
    Also pins the empty-store edge: compacting a store with no part
    files is a (0, 0) no-op, not a crash."""
    import tempfile

    from hypothesis import HealthCheck, given, settings, strategies as st

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _bands_with_src,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        simhash_sig,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _STORE_BANDS_SCHEMA,
        _init_store_bands_dir,
        _inject_duplicate_appends,
        _probe_and_grow,
        _src_num,
        _store_pred,
        compact_store_bands,
    )

    docs = load(spark, SF_SMOKE, "documents")
    ingest = docs.filter(~_store_pred(F.col("source"))).select(
        "doc_id", "text", _src_num(F.col("source")).cast("int").alias("src")
    )
    srcs = sorted(r["src"] for r in ingest.select("src").distinct().collect())
    groups = [srcs[:4], srcs[4:7], srcs[7:]]  # contiguous multi-source batches
    batches = [
        _bands_with_src(
            simhash_sig(ingest.filter(F.col("src").isin(g)), spark),
            ingest.filter(F.col("src").isin(g)),
        ).localCheckpoint(eager=True)
        for g in groups
    ]

    def _store_rows(store_dir):
        return sorted(
            tuple(r)
            for r in spark.read.schema(_STORE_BANDS_SCHEMA)
            .parquet(store_dir)
            .distinct()
            .collect()
        )

    def _pairs_rows(out_dir):
        return sorted(
            tuple(r) for r in spark.read.parquet(out_dir).distinct().collect()
        )

    def _crashed_swap(store_dir):
        before = spark.read.schema(_STORE_BANDS_SCHEMA).parquet(store_dir)
        staging = mkdtemp("patrol_crash_staging_")
        before.distinct().write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                os.rename(os.path.join(staging, f), os.path.join(store_dir, f))
        # crash: the old files are never removed — store holds old+new

    def _only_retry(store_dir):
        for f in sorted(os.listdir(store_dir)):
            if f.endswith(".parquet") and not f.startswith("retry_"):
                os.rename(
                    os.path.join(store_dir, f),
                    os.path.join(store_dir, "retry_" + f),
                )

    ACT = {
        "none": lambda d: None,
        "compact": lambda d: compact_store_bands(spark, d),
        "inject": _inject_duplicate_appends,
        "crash_swap": _crashed_swap,
        "only_retry": _only_retry,
    }

    def run(schedule):
        store_dir = _init_store_bands_dir(spark, SF_SMOKE)
        out_dir = tempfile.mkdtemp(prefix="patrol_pairs_")
        for gap_action, batch in zip(schedule, batches + [None]):
            ACT[gap_action](store_dir)
            if batch is not None:
                _probe_and_grow(spark, store_dir, batch, out_dir)
        return _pairs_rows(out_dir), _store_rows(store_dir)

    want_pairs, want_store = run(["none"] * 4)
    assert want_pairs and want_store

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(
        st.lists(
            st.sampled_from(
                ["none", "compact", "inject", "crash_swap", "only_retry"]
            ),
            min_size=4,
            max_size=4,
        )
    )
    def patrol(schedule):
        pairs, store = run(schedule)
        assert pairs == want_pairs, schedule
        assert store == want_store, schedule

    patrol()

    # the dup-heaviest deterministic composition, pinned explicitly so
    # it always runs even if Hypothesis never draws it
    pairs, store = run(["inject", "crash_swap", "only_retry", "compact"])
    assert (pairs, store) == (want_pairs, want_store)

    # empty store: compaction is a (0, 0) no-op, not a crash
    empty = tempfile.mkdtemp(prefix="patrol_empty_store_")
    assert compact_store_bands(spark, empty) == (0, 0)
