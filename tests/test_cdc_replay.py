"""End-to-end CDC replay correctness: engine final state == oracle reducer.

The invariant (BASELINE.json input_hint): per-turn ``text`` equality under
stable ``ORDER BY conv_id, turn_idx`` after full replay — plus full-row
equality, which is strictly stronger.
"""

from __future__ import annotations

import pytest

from etl_documentos_spark import datagen, oracle
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import physical_schema, read_current
from etl_documentos_spark.schemas import TRANSCRIPTS, TRANSCRIPTS_V2
from etl_documentos_spark.streaming.apply import CdcPipeline
from etl_documentos_spark.streaming.stream import list_epochs, replay_epochs

N_EVENTS = 5_000


@pytest.fixture(scope="module")
def stream_df(spark):
    return datagen.change_stream(
        spark,
        n_events=N_EVENTS,
        n_convs=100,
        turns_per_conv=20,
        events_per_epoch=1000,
    ).persist()


@pytest.fixture(scope="module")
def events_path(stream_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("events") / "stream")
    datagen.write_epochs(stream_df, p)
    return p


def fresh_pipeline(spark, tmp_path, mode: str = "mor") -> CdcPipeline:
    table_root = str(tmp_path / "transcripts")
    LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=8)
    return CdcPipeline(spark, table_root, str(tmp_path / "work"), mode=mode)


def final_state_rows(spark, pipeline):
    df = read_current(spark, pipeline.table).orderBy("conv_id", "turn_idx")
    return [r.asDict() for r in df.collect()]


def oracle_rows(stream_df):
    events = [r.asDict() for r in stream_df.collect()]
    return oracle.reduce_events(events)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_replay_matches_oracle(spark, stream_df, events_path, tmp_path, mode):
    pipeline = fresh_pipeline(spark, tmp_path, mode)
    results = replay_epochs(pipeline, events_path)
    assert all(not r.skipped for r in results)
    got = final_state_rows(spark, pipeline)
    want = oracle_rows(stream_df)
    assert len(got) == len(want)
    # per-turn text equality (the headline invariant)
    for g, w in zip(got, want):
        assert (g["conv_id"], g["turn_idx"]) == (w["conv_id"], w["turn_idx"])
        assert g["text"] == w["text"], (g, w)
    # full-row equality
    for g, w in zip(got, want):
        assert g == {k: w[k] for k in g}


def test_duplicate_and_late_events_present_in_fixture(stream_df):
    """The generator must actually produce the hard cases (FIXTURES.md §2)."""
    from pyspark.sql import functions as F

    # exact duplicates (same lsn twice)
    dups = stream_df.groupBy("lsn").count().filter("count > 1").count()
    assert dups > 0
    # equal-ts pairs differing only in lsn
    ties = (
        stream_df.groupBy("conv_id", "turn_idx", "ts")
        .agg(F.countDistinct("lsn").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert ties > 0
    # late events: ts decreases while lsn increases somewhere
    from pyspark.sql import Window

    w = Window.orderBy("lsn")
    late = (
        stream_df.dropDuplicates(["lsn"])
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("ts") < F.col("prev_ts"))
        .count()
    )
    assert late > 0
    # hot key ~30%
    total = stream_df.count()
    hot = stream_df.filter("conv_id = 'conv_hot'").count()
    assert 0.2 * total < hot < 0.4 * total
    # deletes exist
    assert stream_df.filter("op = 'delete'").count() > 0


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_idempotent_reapply_of_committed_epoch(
    spark, stream_df, events_path, tmp_path, mode
):
    """Re-applying an already-committed epoch leaves the table bit-identical
    (commit-log skip) — and even with the commit log bypassed, the
    version-checked merge / read-time LWW make re-application a no-op."""
    pipeline = fresh_pipeline(spark, tmp_path, mode)
    replay_epochs(pipeline, events_path)
    before = final_state_rows(spark, pipeline)
    snap_before = pipeline.table.current_snapshot.snapshot_id

    # 1) guarded replay: skipped, no new snapshot
    res = replay_epochs(pipeline, events_path, epochs=[0])
    assert res[0].skipped
    assert pipeline.table.current_snapshot.snapshot_id == snap_before

    # 2) bypass the guard: force a merge of epoch 0 again -> state unchanged
    import os

    from etl_documentos_spark.operators.merge import merge_into

    changes = spark.read.parquet(os.path.join(events_path, "epoch=0"))
    merge_into(spark, pipeline.table, changes)
    after = final_state_rows(spark, pipeline)
    assert after == before


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_restart_resume_from_commit_log(
    spark, stream_df, events_path, tmp_path, mode
):
    """Simulated crash-restart: apply a prefix, 'restart' with a new pipeline
    object over the same dirs, replay everything — prefix epochs skip, final
    state still equals the oracle."""
    epochs = list_epochs(events_path)
    pipeline = fresh_pipeline(spark, tmp_path, mode)
    replay_epochs(pipeline, events_path, epochs=epochs[:2])

    resumed = CdcPipeline(spark, pipeline.table_root, pipeline.workdir, mode=mode)
    results = replay_epochs(resumed, events_path, epochs=epochs)
    assert [r.skipped for r in results[:2]] == [True, True]
    assert all(not r.skipped for r in results[2:])

    got = final_state_rows(spark, resumed)
    want = oracle_rows(stream_df)
    assert [(-1, g["conv_id"], g["turn_idx"], g["text"]) for g in got] == [
        (-1, w["conv_id"], w["turn_idx"], w["text"]) for w in want
    ]


def test_delete_then_late_update_does_not_resurrect(spark, tmp_path):
    """Tombstone semantics: delete at ts=100 wins over a late update at ts=50
    arriving in a LATER epoch; a genuine re-insert at ts=200 resurrects."""
    import datetime

    from etl_documentos_spark.operators.merge import merge_into
    from etl_documentos_spark.schemas import CHANGE_EVENTS

    def ev(op, conv, turn, ts_s, lsn, text=None):
        return (
            op, conv, turn,
            "user" if op != "delete" else None,
            text,
            None,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=ts_s),
            lsn, 0,
        )

    table_root = str(tmp_path / "t")
    table = LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=4)

    e1 = spark.createDataFrame([ev("insert", "c1", 0, 10, 1, "v1")], CHANGE_EVENTS)
    merge_into(spark, table, e1)
    e2 = spark.createDataFrame([ev("delete", "c1", 0, 100, 2)], CHANGE_EVENTS)
    merge_into(spark, LakeTable.load(table_root), e2)
    # late update, older ts, later epoch
    e3 = spark.createDataFrame([ev("update", "c1", 0, 50, 3, "late")], CHANGE_EVENTS)
    merge_into(spark, LakeTable.load(table_root), e3)
    assert read_current(spark, LakeTable.load(table_root)).count() == 0

    # re-insert with newer ts resurrects
    e4 = spark.createDataFrame([ev("insert", "c1", 0, 200, 4, "back")], CHANGE_EVENTS)
    merge_into(spark, LakeTable.load(table_root), e4)
    rows = read_current(spark, LakeTable.load(table_root)).collect()
    assert len(rows) == 1 and rows[0]["text"] == "back"


def test_tombstone_expiry_respects_lateness_watermark(spark, tmp_path):
    """With lateness configured, compaction drops tombstones older than
    (max event ts - lateness) but keeps in-bound ones, so a late-but-in-bound
    update is still fenced while expired tombstones stop accumulating."""
    import datetime

    from etl_documentos_spark.schemas import CHANGE_EVENTS

    T0 = datetime.datetime(2024, 1, 1)

    def ev(op, conv, turn, ts_s, lsn, text=None):
        return (
            op, conv, turn,
            "user" if op != "delete" else None,
            text, None, T0 + datetime.timedelta(seconds=ts_s), lsn, 0,
        )

    table_root = str(tmp_path / "t")
    LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=2)
    pipe = CdcPipeline(
        spark, table_root, str(tmp_path / "w"),
        mode="mor", compact_at_files=0, lateness_seconds=100,
    )

    # epoch 0: insert two keys; epoch 1: delete both (tombstones at ts 20/30)
    pipe.apply_epoch(
        spark.createDataFrame(
            [ev("insert", "a", 0, 10, 1, "x"), ev("insert", "b", 0, 11, 2, "y")],
            CHANGE_EVENTS,
        ), 0,
    )
    pipe.apply_epoch(
        spark.createDataFrame(
            [ev("delete", "a", 0, 20, 3), ev("delete", "b", 0, 30, 4)],
            CHANGE_EVENTS,
        ), 1,
    )
    # epoch 2 advances the watermark to ts=125 -> expiry bound 25:
    # tombstone a (ts=20) expires, tombstone b (ts=30) must stay
    pipe.apply_epoch(
        spark.createDataFrame([ev("insert", "c", 0, 125, 5, "z")], CHANGE_EVENTS), 2,
    )
    table = LakeTable.load(table_root)
    phys = table.scan(spark).filter("_deleted").collect()
    assert {r["conv_id"] for r in phys} == {"b"}, phys

    # the surviving tombstone still fences a late-but-in-bound older update
    pipe.apply_epoch(
        spark.createDataFrame(
            [ev("update", "b", 0, 28, 6, "late")], CHANGE_EVENTS
        ), 3,
    )
    live = read_current(spark, LakeTable.load(table_root))
    assert {r["conv_id"] for r in live.collect()} == {"c"}


def test_rebucket_preserves_state_and_pruning(spark, tmp_path):
    """Rebucket 4 -> 16: read_current equality, spec updated, old snapshots
    still readable, and a post-rebucket merge prunes under the new spec."""
    import datetime

    from etl_documentos_spark.operators.merge import merge_into
    from etl_documentos_spark.schemas import CHANGE_EVENTS

    def ev(op, conv, turn, ts_s, lsn, text=None):
        return (
            op, conv, turn, "user", text, None,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=ts_s),
            lsn, 0,
        )

    root = str(tmp_path / "t")
    table = LakeTable.create(root, physical_schema(TRANSCRIPTS), num_buckets=4)
    batch = spark.createDataFrame(
        [ev("insert", f"c{i}", 0, i, i, f"t{i}") for i in range(200)],
        CHANGE_EVENTS,
    )
    merge_into(spark, table, batch)
    before = sorted(
        map(tuple, read_current(spark, LakeTable.load(root)).collect())
    )
    pre_rebucket_snap = LakeTable.load(root).current_snapshot.snapshot_id

    LakeTable.load(root).rebucket(spark, 16)
    table = LakeTable.load(root)
    assert table.num_buckets == 16
    assert len(table.current_snapshot.files) == 16
    after = sorted(map(tuple, read_current(spark, table).collect()))
    assert after == before
    # time travel to the pre-rebucket snapshot still reads the old layout
    assert table.scan(spark, snapshot_id=pre_rebucket_snap).count() == 200

    # a touched-key merge under the new spec rewrites only its new bucket
    upd = spark.createDataFrame(
        [ev("update", "c7", 0, 10_000, 10_000, "updated")], CHANGE_EVENTS
    )
    files_before = dict(table.current_snapshot.files)
    merge_into(spark, table, upd)
    fresh = LakeTable.load(root)
    changed = [
        b
        for b in fresh.current_snapshot.files
        if fresh.current_snapshot.files[b] != files_before.get(b)
    ]
    assert len(changed) == 1  # exactly the bucket owning c7 under N=16
    rows = {
        r["conv_id"]: r["text"]
        for r in read_current(spark, fresh).collect()
    }
    assert rows["c7"] == "updated" and len(rows) == 200


def test_commitlog_compaction_preserves_exactly_once(tmp_path):
    """Rolling old epoch records into the high-water-mark keeps is_committed
    and max_offsets exact, stops at gaps, and bounds the file count."""
    import os

    from etl_documentos_spark.streaming.commitlog import CommitLog

    log = CommitLog(str(tmp_path / "c"))
    for e in range(20):
        if e == 15:
            continue  # a gap: epoch 15 never committed
        log.commit(e, f"fp{e}", {0: e * 10, 1: e * 10 + 5})

    rolled = log.compact_log(keep_last=3)
    assert rolled > 0
    files = [f for f in os.listdir(log.root) if f.startswith("commit-")]
    # contiguous prefix 0..14 rolled; 16 cannot roll past the gap
    assert len(files) <= 5
    for e in range(20):
        assert log.is_committed(e) == (e != 15), e
    assert log.max_offsets() == {0: 190, 1: 195}
    # idempotent re-compaction
    log.compact_log(keep_last=3)
    for e in range(20):
        assert log.is_committed(e) == (e != 15), e


def test_schema_evolution_mid_stream(spark, tmp_path):
    """Additive columns appear after the evolution tranche; pre-evolution rows
    read back null; no data files are rewritten by the evolution itself."""
    stream = datagen.change_stream(
        spark,
        n_events=3_000,
        n_convs=50,
        turns_per_conv=10,
        events_per_epoch=1000,
        evolve_from_lsn=2000,
    )
    events_path = str(tmp_path / "events")
    datagen.write_epochs(stream, events_path)

    pipeline = fresh_pipeline(spark, tmp_path)
    # epochs 0-1 arrive as v1 events (narrow schema — the evolved columns are
    # all-null below lsn 2000, so a narrow read loses nothing); epoch 2
    # arrives with the wider v2 schema -> triggers ALTER TABLE ADD COLUMNS
    from etl_documentos_spark.schemas import CHANGE_EVENTS, CHANGE_EVENTS_V2

    res_v1 = replay_epochs(pipeline, events_path, epochs=[0, 1], schema=CHANGE_EVENTS)
    assert not any(r.added_columns for r in res_v1)
    files_before = dict(pipeline.table.current_snapshot.files)

    res_v2 = replay_epochs(pipeline, events_path, epochs=[2], schema=CHANGE_EVENTS_V2)
    results = res_v1 + res_v2
    assert res_v2[0].added_columns == ["tool_call_id", "tool_latency_ms"]

    # the add-columns snapshot itself rewrote nothing: every pre-evolution
    # data file is still referenced or was replaced only by the epoch-2 merge
    add_col_snap = next(
        s for s in pipeline.table.snapshots if s.operation == "add-columns"
    )
    assert add_col_snap.files == files_before

    table = pipeline.table
    names = [f.name for f in table.schema.fields]
    assert "tool_call_id" in names and "tool_latency_ms" in names

    cur = read_current(spark, table)
    assert cur.filter("tool_call_id IS NOT NULL").count() > 0
    # oracle equality still holds with the wider schema
    want = oracle.reduce_events([r.asDict() for r in stream.collect()])
    got = [r.asDict() for r in cur.orderBy("conv_id", "turn_idx").collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["text"] == w["text"]
        assert g.get("tool_call_id") == w.get("tool_call_id")


def test_concurrent_replay_matches_oracle(spark, stream_df, events_path, tmp_path):
    """Overlapped epoch applies (async batch pipelining): same final state,
    every epoch committed exactly once, compaction racing appends is safe."""
    pipeline = fresh_pipeline(spark, tmp_path, "mor")
    # force compactions to fire during the concurrent run
    pipeline.compact_at_files = 4
    results = replay_epochs(pipeline, events_path, concurrency=3)
    assert not any(r.skipped for r in results)
    got = final_state_rows(spark, pipeline)
    want = oracle_rows(stream_df)
    assert [(g["conv_id"], g["turn_idx"], g["text"]) for g in got] == [
        (w["conv_id"], w["turn_idx"], w["text"]) for w in want
    ]
    n_epochs = len(list_epochs(events_path))
    assert len(pipeline.commitlog.max_offsets()) > 0
    assert sum(1 for e in range(n_epochs) if pipeline.commitlog.is_committed(e)) == n_epochs


def test_bulk_backfill_matches_oracle_and_is_idempotent(
    spark, stream_df, events_path, tmp_path
):
    """Backfill super-batch: one stats pass + one append for all epochs;
    state equals the oracle; re-running skips every epoch; a prefix
    applied as DataFrames (the foreachBatch route) composes with a bulk
    remainder on the file route."""
    from etl_documentos_spark.streaming.stream import replay_bulk

    pipeline = fresh_pipeline(spark, tmp_path, "mor")
    results = replay_bulk(pipeline, events_path)
    assert not any(r.skipped for r in results)
    got = final_state_rows(spark, pipeline)
    want = oracle_rows(stream_df)
    assert [(g["conv_id"], g["turn_idx"], g["text"]) for g in got] == [
        (w["conv_id"], w["turn_idx"], w["text"]) for w in want
    ]
    # re-run: every epoch already committed
    again = replay_bulk(pipeline, events_path)
    assert all(r.skipped for r in again)
    assert final_state_rows(spark, pipeline) == got

    # mixed: DataFrame-apply a prefix, bulk the rest through the files
    import os

    p2 = fresh_pipeline(spark, tmp_path / "mixed", "mor")
    epochs = list_epochs(events_path)
    for e in epochs[:2]:
        p2.apply_epoch(
            spark.read.parquet(os.path.join(events_path, f"epoch={e}")), e
        )
    mixed = replay_bulk(p2, events_path)
    assert sum(r.skipped for r in mixed) == 2
    assert final_state_rows(spark, p2) == got


def test_replay_epochs_mor_uses_file_writer(
    spark, events_path, tmp_path, monkeypatch
):
    """replay_epochs applies a MOR pipeline's local epochs through the
    zero-IPC file writer, one call per epoch: the DataFrame writer (and so
    the JVM→Python Arrow socket) never runs."""

    def dataframe_writer(*a, **kw):
        raise AssertionError("replay_epochs took the DataFrame writer")

    written = []
    file_writer = LakeTable.write_change_files_direct
    monkeypatch.setattr(LakeTable, "write_data_files_direct", dataframe_writer)
    monkeypatch.setattr(
        LakeTable,
        "write_change_files_direct",
        lambda self, *a, **kw: written.append(1) or file_writer(self, *a, **kw),
    )
    pipeline = fresh_pipeline(spark, tmp_path)
    results = replay_epochs(pipeline, events_path)
    assert not any(r.skipped for r in results)
    assert len(written) == len(results) == len(list_epochs(events_path))


def test_lineage_and_metrics_emitted(spark, stream_df, events_path, tmp_path):
    from etl_documentos_spark.streaming.lineage import read_lineage, read_metrics

    pipeline = fresh_pipeline(spark, tmp_path)
    replay_epochs(pipeline, events_path)
    lin = read_lineage(spark, pipeline.lineage_path)
    met = read_metrics(spark, pipeline.metrics_path)
    n_events = stream_df.count()
    assert lin.groupBy().sum("events_read").first()[0] == n_events
    n_epochs = len(list_epochs(events_path))
    assert met.select("epoch_id").distinct().count() == n_epochs
    assert met.filter("events_per_sec <= 0").count() == 0


def test_tombstone_expiry_tz_independent(spark, tmp_path):
    """The lateness watermark lives in the UTC-micros domain end-to-end, so
    a non-UTC session timezone must not shift the tombstone expiry bound.

    Regression: with the bound as a naive timestamp literal, a session in
    e.g. America/Sao_Paulo (UTC-3) re-interpreted it 3h off, expiring
    tombstones hours before the configured lateness window and letting a
    late update resurrect a deleted key."""
    import datetime

    from etl_documentos_spark.schemas import CHANGE_EVENTS

    T0 = datetime.datetime(2024, 1, 1)

    def ev(op, conv, turn, ts_s, lsn, text=None):
        return (
            op, conv, turn,
            "user" if op != "delete" else None,
            text, None, T0 + datetime.timedelta(seconds=ts_s), lsn, 0,
        )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    try:
        table_root = str(tmp_path / "t")
        LakeTable.create(
            table_root, physical_schema(TRANSCRIPTS), num_buckets=2
        )
        pipe = CdcPipeline(
            spark, table_root, str(tmp_path / "w"),
            mode="mor", compact_at_files=0, lateness_seconds=100,
        )
        pipe.apply_epoch(
            spark.createDataFrame(
                [ev("insert", "a", 0, 10, 1, "x"),
                 ev("insert", "b", 0, 11, 2, "y")],
                CHANGE_EVENTS,
            ), 0,
        )
        pipe.apply_epoch(
            spark.createDataFrame(
                [ev("delete", "a", 0, 20, 3), ev("delete", "b", 0, 30, 4)],
                CHANGE_EVENTS,
            ), 1,
        )
        # watermark -> 125, bound = 25: tombstone a (20) expires, b (30)
        # stays. A UTC-offset bug shifts the bound by ±3h and either keeps
        # both or (the dangerous side) expires both.
        pipe.apply_epoch(
            spark.createDataFrame(
                [ev("insert", "c", 0, 125, 5, "z")], CHANGE_EVENTS
            ), 2,
        )
        table = LakeTable.load(table_root)
        phys = table.scan(spark).filter("_deleted").collect()
        assert {r["conv_id"] for r in phys} == {"b"}, phys
        # the surviving tombstone still fences a late-but-in-bound update
        pipe.apply_epoch(
            spark.createDataFrame(
                [ev("update", "b", 0, 28, 6, "late")], CHANGE_EVENTS
            ), 3,
        )
        live = read_current(spark, LakeTable.load(table_root))
        assert {r["conv_id"] for r in live.collect()} == {"c"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_commitlog_get_rolled_epoch_no_crash(tmp_path):
    """get() on an epoch whose per-file record was folded into the HWM
    returns a synthetic committed record instead of raising
    FileNotFoundError (is_committed says True, so get must not crash)."""
    from etl_documentos_spark.streaming.commitlog import CommitLog

    log = CommitLog(str(tmp_path / "c"))
    for e in range(10):
        log.commit(e, f"fp{e}", {0: e})
    log.compact_log(keep_last=2)
    assert log.is_committed(0)
    rec = log.get(0)  # rolled: file deleted, HWM covers it
    assert rec is not None and rec.epoch_id == 0
    assert rec.input_fingerprint == "<rolled>"
    assert log.get(999) is None  # never committed stays None
    tail = log.get(9)  # tail file still has the real record
    assert tail is not None and tail.input_fingerprint == "fp9"


def test_commitlog_concurrent_compaction_never_loses_coverage(tmp_path):
    """compact_log from many processes sharing one commit dir (fleet mode /
    pipelined threads) must never publish an HWM that lost another
    compactor's coverage: after arbitrary interleaving, every committed
    epoch still reads as committed and max_offsets is exact."""
    import multiprocessing as mp

    from etl_documentos_spark.streaming.commitlog import CommitLog

    root = str(tmp_path / "c")
    log = CommitLog(root)
    N = 400
    for e in range(N):
        log.commit(e, f"fp{e}", {0: e, 1: e + 1})

    def compact_many(root, keep):
        from etl_documentos_spark.streaming.commitlog import CommitLog

        lg = CommitLog(root)
        for _ in range(5):
            lg.compact_log(keep_last=keep)

    procs = [
        mp.Process(target=compact_many, args=(root, keep))
        for keep in (3, 7, 11, 3)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
        assert p.exitcode == 0
    for e in range(N):
        assert log.is_committed(e), e
    assert log.max_offsets() == {0: N - 1, 1: N}


def test_adaptive_salts_spread_hot_bucket(spark, tmp_path):
    """A hot conversation (~60% of rows, all in one bucket) must make
    compaction pick a salt count > the uniform floor from the observed
    bucket sizes alone — no manual tuning — so the hot bucket's rewrite
    spreads over multiple tasks/files; and the rewrite stays correct."""
    import datetime

    from etl_documentos_spark.operators.merge import adaptive_salts, compact
    from etl_documentos_spark.schemas import CHANGE_EVENTS

    T0 = datetime.datetime(2024, 1, 1)
    rows = []
    lsn = 0
    # hot conversation: 3000 turns; 20 cold conversations x 100 turns
    for turn in range(3000):
        lsn += 1
        rows.append(("insert", "hot", turn, "user", f"h{turn}", None,
                     T0, lsn, 0))
    for c in range(20):
        for turn in range(100):
            lsn += 1
            rows.append(("insert", f"c{c}", turn, "user", f"t{turn}", None,
                         T0, lsn, 0))
    df = spark.createDataFrame(rows, CHANGE_EVENTS)

    table_root = str(tmp_path / "t")
    LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=8)
    pipe = CdcPipeline(spark, table_root, str(tmp_path / "w"), mode="mor")
    pipe.apply_epoch(df, 0)

    table = LakeTable.load(table_root)
    sizes = table.bucket_sizes()
    hot_b = max(sizes, key=sizes.get)
    assert sizes[hot_b] / sum(sizes.values()) > 0.4  # skew is real

    salts = adaptive_salts(table, list(range(8)), spark)
    floor_salts = adaptive_salts(
        LakeTable.load(table_root), [b for b in sizes if b != hot_b], spark
    )
    assert salts > 2, salts  # skew observed -> more salts
    # (cold-only bucket set may still exceed the floor slightly; the point
    # is the hot set demands strictly more spread than the cold set)
    assert salts >= floor_salts

    # tiny target_file_bytes so the size cap doesn't bind at test scale —
    # the point here is the PARALLELISM spread, asserted below
    compact(spark, table, target_file_bytes=1)
    fresh = LakeTable.load(table_root)
    files = fresh.current_snapshot.files
    assert len(files[str(hot_b)]) >= salts // 2  # hot bucket spread out
    # correctness: compacted read equals the oracle reduction
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in read_current(spark, fresh).collect()
    }
    assert len(got) == 3000 + 20 * 100
    assert got[("hot", 2999)] == "h2999"


def test_split_bucket_mid_ingest(spark, tmp_path):
    """Power-of-two bucket split: splitting one hot base bucket while a
    concurrent thread keeps applying epochs must (a) leave read_current
    equal to the oracle reduction of ALL events, (b) address the split
    children in the manifest, (c) keep post-split merges correct, and
    (d) normalize to num_buckets=2N once every base bucket has split."""
    import datetime
    import threading

    from etl_documentos_spark.schemas import CHANGE_EVENTS

    T0 = datetime.datetime(2024, 1, 1)

    def epoch_rows(epoch, n=400):
        rows = []
        for j in range(n):
            lsn = epoch * n + j + 1
            conv = f"c{j % 40}"
            rows.append(
                ("insert" if j % 7 else "update", conv, j % 25, "user",
                 f"t{epoch}-{j}", None,
                 T0 + datetime.timedelta(seconds=lsn), lsn, 0)
            )
        return rows

    table_root = str(tmp_path / "t")
    LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=4)
    pipe = CdcPipeline(spark, table_root, str(tmp_path / "w"), mode="mor")
    all_rows = epoch_rows(0)
    pipe.apply_epoch(spark.createDataFrame(all_rows, CHANGE_EVENTS), 0)

    # concurrent ingest during the split
    errs = []

    def ingest():
        try:
            for e in (1, 2):
                rows = epoch_rows(e)
                all_rows.extend(rows)
                pipe.apply_epoch(spark.createDataFrame(rows, CHANGE_EVENTS), e)
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    t = threading.Thread(target=ingest)
    t.start()
    table = LakeTable.load(table_root)
    table.split_bucket(spark, 1)
    t.join()
    assert not errs, errs

    fresh = LakeTable.load(table_root)
    assert fresh.split_buckets == [1]
    assert set(fresh.live_buckets()) == {0, 1, 2, 3, 5}
    files = fresh.current_snapshot.files
    # every file key is a live bucket; child 5 exists iff it holds rows
    assert set(int(b) for b in files) <= {0, 1, 2, 3, 5}

    # scans pruned to a child see only that child's rows
    for child in (1, 5):
        got = fresh.scan(spark, buckets=[child])
        if got.count():
            bvals = {
                r["b"]
                for r in got.select(
                    fresh.bucket_expr().alias("b")
                ).distinct().collect()
            }
            assert bvals == {child}, (child, bvals)

    # post-split merge + full equality vs the oracle reducer
    rows3 = epoch_rows(3)
    all_rows.extend(rows3)
    pipe2 = CdcPipeline(spark, table_root, str(tmp_path / "w2"), mode="cow")
    pipe2.apply_epoch(spark.createDataFrame(rows3, CHANGE_EVENTS), 0)

    from etl_documentos_spark import oracle

    exp = oracle.reduce_events(
        [dict(zip(
            ["op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
             "lsn", "source_partition"], r)) for r in all_rows]
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in read_current(spark, LakeTable.load(table_root)).collect()
    }
    assert got == {
        (e["conv_id"], e["turn_idx"]): e["text"] for e in exp
    }

    # split the remaining base buckets -> spec normalizes to 8 unsplit
    tbl = LakeTable.load(table_root)
    for b in (0, 2, 3):
        tbl.split_bucket(spark, b)
    assert tbl.num_buckets == 8 and tbl.split_buckets == []
    assert len(read_current(spark, LakeTable.load(table_root)).collect()) == len(exp)


def test_bulk_hll_conv_counts_accurate(spark, stream_df, events_path, tmp_path):
    """The single-pass HyperLogLog distinct-conversation lineage counter
    (which replaced the concurrent approx_count_distinct scan) must land
    within ~10% of the exact per-(epoch, source_partition) distinct count,
    and be deterministic across identical replays."""
    from etl_documentos_spark.streaming.lineage import read_lineage
    from etl_documentos_spark.streaming.stream import replay_bulk

    import pyspark.sql.functions as F

    def run(workdir):
        table_root = str(tmp_path / workdir / "transcripts")
        LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=8)
        pipe = CdcPipeline(spark, table_root, str(tmp_path / workdir / "work"))
        replay_bulk(pipe, events_path)
        return {
            (r["epoch_id"], r["source_partition"]): r["conv_ids_touched"]
            for r in read_lineage(spark, pipe.lineage_path).collect()
        }

    got = run("a")
    exact = {
        (r["epoch"], r["source_partition"]): r["n"]
        for r in spark.read.parquet(events_path)
        .groupBy("epoch", "source_partition")
        .agg(F.countDistinct("conv_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for key, n_exact in exact.items():
        err = abs(got[key] - n_exact) / max(n_exact, 1)
        assert err <= 0.10, (key, got[key], n_exact, err)
    assert run("b") == got  # deterministic re-estimate


def test_lineage_idempotent_under_crash_replay(
    spark, stream_df, events_path, tmp_path
):
    """A crash between the lineage/metrics append and the commit-log mark
    re-applies the epoch on restart (at-least-once replay). The audit
    sinks must stay exactly-once: the re-applied epoch's lineage/metrics
    write REPLACES the first one (deterministic per-epoch filename)
    instead of appending a duplicate that would inflate events_read.

    Regression: uuid-named appends wrote a second lineage/metrics file for
    the re-applied epoch, double-counting its events in the audit totals."""
    import os

    from etl_documentos_spark.streaming.lineage import read_lineage, read_metrics

    pipeline = fresh_pipeline(spark, tmp_path)
    replay_epochs(pipeline, events_path)
    n_events = stream_df.count()
    lin = read_lineage(spark, pipeline.lineage_path)
    assert lin.groupBy().sum("events_read").first()[0] == n_events

    # simulate the crash window: epoch applied + lineage written, but the
    # commit-log record lost -> restart re-applies the epoch
    crashed = list_epochs(events_path)[0]
    os.remove(pipeline.commitlog._path(crashed))
    restarted = CdcPipeline(spark, pipeline.table.root, str(tmp_path / "work"))
    again = replay_epochs(restarted, events_path)
    assert sum(1 for r in again if not r.skipped) == 1  # only the crashed one

    lin2 = read_lineage(spark, restarted.lineage_path)
    assert lin2.groupBy().sum("events_read").first()[0] == n_events
    met = read_metrics(spark, restarted.metrics_path)
    assert (
        met.groupBy("epoch_id").count().filter("count > 1").count() == 0
    ), "duplicate metrics rows after crash replay"


def test_split_bucket_conflicts_with_concurrent_respec(spark, tmp_path):
    """A split whose lock-free rewrite raced a rebucket (or a duplicate
    split of the same bucket) must abort with SpecConflictError instead of
    committing files keyed under the stale transform — an unsplit old-spec
    file would hide its b+N rows from pruned scans forever."""
    import datetime

    from etl_documentos_spark.lake.table import SpecConflictError
    from etl_documentos_spark.operators.merge import merge_mor
    from etl_documentos_spark.schemas import CHANGE_EVENTS

    T0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("insert", f"c{j}", 0, "user", f"t{j}", None,
         T0 + datetime.timedelta(seconds=j), j + 1, 0)
        for j in range(200)
    ]
    table_root = str(tmp_path / "t")
    LakeTable.create(table_root, physical_schema(TRANSCRIPTS), num_buckets=4)
    table = LakeTable.load(table_root)
    merge_mor(spark, table, spark.createDataFrame(rows, CHANGE_EVENTS))

    # duplicate split: a second handle splits the same bucket first
    loser, winner = LakeTable.load(table_root), LakeTable.load(table_root)
    winner.split_bucket(spark, 2)
    with pytest.raises((SpecConflictError, ValueError)):
        loser.split_bucket(spark, 2)

    # rebucket racing a split of another bucket: the split handle staged
    # against base 4, the rebucket re-keys everything to base 8
    loser = LakeTable.load(table_root)
    # simulate the race by rebucketing between the loser's load and split
    fresh = LakeTable.load(table_root)
    fresh.rebucket(spark, 8)
    with pytest.raises((SpecConflictError, ValueError)):
        loser.split_bucket(spark, 1)

    # table remains readable and complete after both aborted admin ops
    assert LakeTable.load(table_root).scan(spark).count() == 200
