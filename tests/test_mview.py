"""Incrementally maintained materialized view: touched-key recompute."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from etl_documentos_spark.lake.mview import (
    _SYNC_PROP,
    MaterializedView,
    conv_stats_aggs,
)
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import (
    changes_to_physical,
    compact,
    merge_into,
    physical_schema,
    read_current,
)
from etl_documentos_spark.schemas import CHANGE_EVENTS, TRANSCRIPTS

T0 = datetime.datetime(2024, 1, 1)


def ev(op, conv, turn, ts_s, lsn, text=None, role="user"):
    return (
        op, conv, turn,
        role if op != "delete" else None,
        text, None, T0 + datetime.timedelta(seconds=ts_s), lsn, 0,
    )


BATCHES = [
    # snapshot 2: two convs
    [ev("insert", "c1", 0, 10, 1, "hello"),
     ev("insert", "c1", 1, 11, 2, "world!", role="assistant"),
     ev("insert", "c2", 0, 12, 3, "x")],
    # snapshot 3: update c1 (longer text, later ts), delete all of c2
    [ev("update", "c1", 0, 20, 4, "hello again"),
     ev("delete", "c2", 0, 21, 5)],
    # snapshot 4: new conv c3, late event for c1 (loses LWW)
    [ev("insert", "c3", 7, 30, 6, "zzz"),
     ev("update", "c1", 0, 5, 7, "stale-loses")],
]


@pytest.fixture()
def src(spark, tmp_path):
    table = LakeTable.create(
        str(tmp_path / "src"), physical_schema(TRANSCRIPTS), num_buckets=4
    )
    return table


def _append(spark, table, batch):
    table.append(
        changes_to_physical(
            spark.createDataFrame(batch, CHANGE_EVENTS), table.schema
        )
    )


def _expected(spark, table):
    """Oracle: full recompute from the table's public read path."""
    return sorted(
        tuple(r)
        for r in read_current(spark, table)
        .groupBy("conv_id")
        .agg(*conv_stats_aggs())
        .collect()
    )


def _got(spark, mv):
    return sorted(tuple(r) for r in mv.read(spark).collect())


def test_refresh_tracks_every_batch(spark, src, tmp_path):
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    for batch in BATCHES:
        _append(spark, src, batch)
        summary = mv.refresh(spark, src)
        assert summary["keys_touched"] > 0
        assert _got(spark, mv) == _expected(spark, src)
    # c2 was fully deleted -> no row for it
    assert all(r[0] != "c2" for r in _got(spark, mv))
    # noop refresh
    assert mv.refresh(spark, src)["keys_touched"] == 0


def test_batched_refresh_equals_per_batch(spark, src, tmp_path):
    """One refresh over three snapshots == three refreshes."""
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    for batch in BATCHES:
        _append(spark, src, batch)
    mv.refresh(spark, src)
    assert _got(spark, mv) == _expected(spark, src)


def test_crash_between_data_and_watermark_is_idempotent(spark, src, tmp_path):
    """Re-running a refresh whose watermark write was lost must converge to
    the same state (the crash-safety argument in the module docstring)."""
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    _append(spark, src, BATCHES[0])
    before = mv.synced_snapshot_id
    mv.refresh(spark, src)
    want = _got(spark, mv)
    # simulate the crash: data committed, watermark lost
    mv.table.set_property(_SYNC_PROP, before)
    mv.refresh(spark, src)
    assert _got(spark, mv) == want == _expected(spark, src)


def test_source_compaction_is_invisible(spark, src, tmp_path):
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    for batch in BATCHES:
        _append(spark, src, batch)
    mv.refresh(spark, src)
    compact(spark, src)
    src._refresh()
    s = mv.refresh(spark, src)
    assert s["keys_touched"] == 0  # maintenance rewrite carries no change
    assert mv.synced_snapshot_id == src.current_snapshot.snapshot_id
    assert _got(spark, mv) == _expected(spark, src)


def test_logical_overwrite_raises_then_full_refresh_resyncs(
    spark, src, tmp_path
):
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    _append(spark, src, BATCHES[0])
    mv.refresh(spark, src)
    # a COW merge commit breaks the incremental feed
    cow = spark.createDataFrame(
        [ev("update", "c1", 1, 40, 9, "cow-path")], CHANGE_EVENTS
    )
    merge_into(spark, src, cow)
    src._refresh()
    with pytest.raises(ValueError, match="logical overwrite"):
        mv.refresh(spark, src)
    mv.full_refresh(spark, src)
    assert _got(spark, mv) == _expected(spark, src)
    assert mv.refresh(spark, src)["keys_touched"] == 0


def test_streaming_attached_view_tracks_stream(spark, tmp_path):
    """A view attached to the streaming pipeline is refreshed per
    micro-batch and ends exactly consistent with the drained table —
    including across a checkpointed restart."""
    from etl_documentos_spark import datagen
    from etl_documentos_spark.streaming.apply import CdcPipeline
    from etl_documentos_spark.streaming.stream import run_stream_until_drained

    stream = datagen.change_stream(
        spark, n_events=3000, n_convs=40, turns_per_conv=10,
        events_per_epoch=1000,
    )
    events_path = str(tmp_path / "events")
    datagen.write_epochs(stream, events_path, files_per_epoch=2)

    table_root = str(tmp_path / "transcripts")
    table = LakeTable.create(
        table_root, physical_schema(TRANSCRIPTS), num_buckets=8
    )
    mv = MaterializedView.create(
        spark, table, str(tmp_path / "mv"), conv_stats_aggs()
    )
    pipeline = CdcPipeline(spark, table_root, str(tmp_path / "work"))
    pipeline.attach_view(mv)
    run_stream_until_drained(
        pipeline, events_path, str(tmp_path / "ckpt"), max_files_per_trigger=3
    )
    assert _got(spark, mv) == _expected(spark, pipeline.table)

    # restart over the same checkpoint: nothing new, view stays consistent
    pipeline2 = CdcPipeline(spark, table_root, str(tmp_path / "work"))
    pipeline2.attach_view(mv)
    run_stream_until_drained(
        pipeline2, events_path, str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
    )
    assert _got(spark, mv) == _expected(spark, pipeline2.table)


def test_refresh_scans_only_touched_source_buckets(spark, src, tmp_path):
    """The source side of a refresh is also scoped: only buckets holding
    changed keys are scanned (plus the delta files the changelog names) —
    the no-full-scan property that makes refresh O(delta) at 10^10 rows."""
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    for batch in BATCHES:
        _append(spark, src, batch)
    mv.refresh(spark, src)

    scanned: list = []
    orig = LakeTable.scan

    def spy(self, spark_, buckets=None, **kw):
        if self.root == src.root:
            scanned.append(buckets)
        return orig(self, spark_, buckets=buckets, **kw)

    _append(spark, src, [ev("update", "c3", 7, 60, 11, "zzz v3")])
    b3 = int(
        spark.range(1).select(src.bucket_expr(F.lit("c3"))).first()[0]
    )
    try:
        LakeTable.scan = spy
        mv.refresh(spark, src)
    finally:
        LakeTable.scan = orig
    assert scanned, "refresh never scanned the source?"
    for buckets in scanned:
        assert buckets is not None and set(buckets) == {b3}
    assert _got(spark, mv) == _expected(spark, src)


def test_untouched_buckets_not_rewritten(spark, src, tmp_path):
    """The view rewrite is scoped to the buckets of changed keys — the
    scale property (an idle conversation's view bucket never churns)."""
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), conv_stats_aggs()
    )
    for batch in BATCHES:
        _append(spark, src, batch)
    mv.refresh(spark, src)
    files_before = dict(mv.table.current_snapshot.files)
    # touch only c3 (one bucket)
    _append(spark, src, [ev("update", "c3", 7, 50, 10, "zzz v2")])
    mv.refresh(spark, src)
    b3 = str(
        spark.range(1)
        .select(mv.table.bucket_expr(F.lit("c3")))
        .first()[0]
    )
    after = mv.table.current_snapshot.files
    for b, fs in files_before.items():
        if b != b3:
            assert after.get(b) == fs, f"bucket {b} churned needlessly"
    assert _got(spark, mv) == _expected(spark, src)
