"""The zero-IPC file-driven bulk path (`apply_epochs_bulk_files`).

The general bulk contract (oracle equality, idempotence, micro+bulk mix)
is covered by test_cdc_replay.py, whose `replay_bulk` now routes here.
These tests pin what is NEW about the file path: bit-equality with the
DataFrame path (fingerprints, physical parquet bytes' schema, final
state), schema evolution driven by footer-derived schemas, the bootstrap
fence, and split-bucket spec pickup.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import physical_schema, read_current
from etl_documentos_spark.schemas import CHANGE_EVENTS, TRANSCRIPTS
from etl_documentos_spark.streaming.apply import CdcPipeline
from etl_documentos_spark.streaming.stream import epoch_files, list_epochs

BULK_SCHEMA = T.StructType(
    list(CHANGE_EVENTS.fields) + [T.StructField("epoch", T.IntegerType(), False)]
)


@pytest.fixture(scope="module")
def stream_df(spark):
    return datagen.change_stream(
        spark, n_events=4_000, n_convs=80, turns_per_conv=15,
        events_per_epoch=1000,
    ).persist()


@pytest.fixture(scope="module")
def events_path(stream_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("events") / "stream")
    datagen.write_epochs(stream_df, p, files_per_epoch=4)
    return p


def _pairs(events_path):
    return [
        (f, e) for f, e, _ in epoch_files(events_path, list_epochs(events_path))
    ]


def _pipeline(spark, root, num_buckets=8) -> CdcPipeline:
    troot = str(root / "transcripts")
    LakeTable.create(troot, physical_schema(TRANSCRIPTS), num_buckets=num_buckets)
    return CdcPipeline(spark, troot, str(root / "work"), mode="mor")


def _fingerprints(pipe: CdcPipeline, epochs) -> dict:
    return {e: pipe.commitlog.get(e).input_fingerprint for e in epochs}


def _assert_oracle_state(spark, pipe: CdcPipeline, stream_df) -> None:
    from etl_documentos_spark import oracle

    got = [
        r.asDict()
        for r in read_current(spark, pipe.table)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = oracle.reduce_events([r.asDict() for r in stream_df.collect()])
    assert [(g["conv_id"], g["turn_idx"], g["text"]) for g in got] == [
        (w["conv_id"], w["turn_idx"], w["text"]) for w in want
    ]


def test_files_path_bit_equals_dataframe_path(
    spark, stream_df, events_path, tmp_path
):
    """Same input through apply_epochs_bulk (JVM data plane) and
    apply_epochs_bulk_files (pyarrow data plane): identical per-epoch
    fingerprints, identical physical parquet schemas, identical final
    state — the cross-path exactly-once guarantee."""
    epochs = list_epochs(events_path)

    pa_pipe = _pipeline(spark, tmp_path / "A")
    changes = (
        spark.read.schema(BULK_SCHEMA)
        .option("basePath", events_path)
        .parquet(*[os.path.join(events_path, f"epoch={e}") for e in epochs])
    )
    res_a = pa_pipe.apply_epochs_bulk(changes, epochs, persist=False)

    pb_pipe = _pipeline(spark, tmp_path / "B")
    res_b = pb_pipe.apply_epochs_bulk_files(_pairs(events_path), schema=CHANGE_EVENTS)

    assert sum(r.events for r in res_a) == sum(r.events for r in res_b)
    assert _fingerprints(pa_pipe, epochs) == _fingerprints(pb_pipe, epochs)

    a = read_current(spark, pa_pipe.table)
    b = read_current(spark, pb_pipe.table)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    fa = glob.glob(os.path.join(str(tmp_path / "A"), "transcripts", "data", "w-*", "*.parquet"))[0]
    fb = glob.glob(os.path.join(str(tmp_path / "B"), "transcripts", "data", "w-*", "*.parquet"))[0]
    assert pq.read_schema(fa) == pq.read_schema(fb)


def test_files_path_cross_path_restart_dedups(
    spark, stream_df, events_path, tmp_path
):
    """A backfill started on the DataFrame path and resumed on the file
    path (the crash-restart-with-upgraded-binary story) skips the already
    committed epochs — fingerprint-compatible commit records."""
    epochs = list_epochs(events_path)
    pipe = _pipeline(spark, tmp_path)
    changes = (
        spark.read.schema(BULK_SCHEMA)
        .option("basePath", events_path)
        .parquet(os.path.join(events_path, f"epoch={epochs[0]}"))
    )
    pipe.apply_epochs_bulk(changes, [epochs[0]], persist=False)

    res = pipe.apply_epochs_bulk_files(_pairs(events_path), schema=CHANGE_EVENTS)
    by_epoch = {r.epoch_id: r for r in res}
    assert by_epoch[epochs[0]].skipped
    assert all(not by_epoch[e].skipped for e in epochs[1:])
    _assert_oracle_state(spark, pipe, stream_df)


def test_files_path_restages_once_on_spec_conflict(
    spark, stream_df, events_path, tmp_path, monkeypatch
):
    """A commit that lost a race with a split/rebucket (SpecConflictError)
    restages the files under the fresh spec once, then commits: every
    epoch lands exactly once and the state equals the oracle."""
    from etl_documentos_spark.lake.table import SpecConflictError

    calls = {"commit": 0, "write": 0}
    real_commit = LakeTable.commit_append
    real_write = LakeTable.write_change_files_direct

    def commit_conflicting_once(self, *a, **kw):
        calls["commit"] += 1
        if calls["commit"] == 1:
            raise SpecConflictError("injected: bucket spec changed")
        return real_commit(self, *a, **kw)

    def counting_write(self, *a, **kw):
        calls["write"] += 1
        return real_write(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_append", commit_conflicting_once)
    monkeypatch.setattr(LakeTable, "write_change_files_direct", counting_write)
    pipe = _pipeline(spark, tmp_path)
    res = pipe.apply_epochs_bulk_files(_pairs(events_path), schema=CHANGE_EVENTS)
    assert calls == {"commit": 2, "write": 2}
    assert sum(r.events for r in res) == stream_df.count()
    assert all(pipe.commitlog.is_committed(e) for e in list_epochs(events_path))
    _assert_oracle_state(spark, pipe, stream_df)


@pytest.mark.parametrize("driver", ["replay_bulk", "replay_epochs"])
def test_missing_local_epoch_dir_raises(spark, events_path, tmp_path, driver):
    """A local epoch id without an ``epoch=N`` directory is a caller error:
    both drivers raise FileNotFoundError before applying anything, instead
    of re-dispatching to the DataFrame path (which would fail later with
    an unrelated AnalysisException)."""
    from etl_documentos_spark.streaming import stream

    pipe = _pipeline(spark, tmp_path)
    with pytest.raises(FileNotFoundError, match="epoch=99"):
        getattr(stream, driver)(pipe, events_path, epochs=[0, 99])
    assert not pipe.commitlog.is_committed(0)


def test_files_path_schema_evolution_from_footers(spark, tmp_path):
    """schema=None: the declared schema is derived from one footer per
    epoch; a narrow epoch 0 + evolved epochs 1-2 evolve the table and the
    evolved values land (pre-evolution rows read back null)."""
    stream = datagen.change_stream(
        spark, n_events=3_000, n_convs=50, turns_per_conv=10,
        events_per_epoch=1000, evolve_from_lsn=2000,
    )
    events_path = str(tmp_path / "events")
    datagen.write_epochs(stream, events_path, files_per_epoch=2)

    pipe = _pipeline(spark, tmp_path)
    res = pipe.apply_epochs_bulk_files(_pairs(events_path))  # no schema
    assert sum(r.events for r in res) == stream.count()
    names = [f.name for f in pipe.table.schema.fields]
    assert "tool_call_id" in names and "tool_latency_ms" in names

    from etl_documentos_spark import oracle

    cur = read_current(spark, pipe.table)
    assert cur.filter("tool_call_id IS NOT NULL").count() > 0
    want = oracle.reduce_events([r.asDict() for r in stream.collect()])
    got = [r.asDict() for r in cur.orderBy("conv_id", "turn_idx").collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["text"] == w["text"]
        assert g.get("tool_call_id") == w.get("tool_call_id")


def test_files_path_bootstrap_fence(spark, stream_df, events_path, tmp_path):
    """Events at or below the bootstrap watermark must not re-apply."""
    pipe = _pipeline(spark, tmp_path)
    wm = int(
        stream_df.agg(F.expr("percentile_approx(lsn, 0.5)")).first()[0]
    )
    pipe.table.set_property("bootstrap.watermark-lsn", str(wm))
    pipe._bootstrap_wm = "unloaded"  # force re-read of the property

    res = pipe.apply_epochs_bulk_files(_pairs(events_path), schema=CHANGE_EVENTS)
    applied = sum(r.events for r in res)
    expected = stream_df.filter(F.col("lsn") > wm).count()
    assert applied == expected
    # nothing below the fence reached the table
    assert (
        pipe.table.scan(spark).filter(F.col("_lsn") <= wm).count() == 0
    )


def test_files_path_split_bucket_spec(spark, stream_df, events_path, tmp_path):
    """With a split bucket active, the numpy bucket transform lands rows
    exactly where bucket-pruned scans look: per-bucket scan union equals
    the full state, and the split bucket's children hold its rows."""
    pipe = _pipeline(spark, tmp_path)
    t = pipe.table
    t.split_bucket(spark, 0)
    pipe.apply_epochs_bulk_files(_pairs(events_path), schema=CHANGE_EVENTS)

    t = pipe.table
    full = t.scan(spark)
    total = full.count()
    assert total > 0
    per_bucket = sum(
        t.scan(spark, buckets=[b]).count() for b in t.live_buckets()
    )
    assert per_bucket == total
    # every row in each pruned scan actually belongs there
    for b in t.live_buckets():
        got = t.scan(spark, buckets=[b])
        n_wrong = got.filter(t.bucket_expr() != F.lit(b)).count()
        assert n_wrong == 0, f"bucket {b} holds foreign rows"


def test_replay_bulk_commits_empty_epochs(spark, tmp_path):
    """An epoch whose directory holds ZERO parquet files must still get
    a commit record (empty fingerprint) — dropping it leaves a
    commit-log gap that stalls the contiguous HWM roll-up forever and
    re-processes the epoch on every later replay."""
    from etl_documentos_spark.streaming.stream import replay_bulk

    src = str(tmp_path / "ev")
    df = datagen.change_stream(
        spark, n_events=2_000, events_per_epoch=1000
    )
    datagen.write_epochs(df, src, files_per_epoch=2)
    # an external writer's zero-event epoch: directory with no parquet
    empty = os.path.join(src, "epoch=9")
    os.makedirs(empty)
    with open(os.path.join(empty, "_SUCCESS"), "w"):
        pass

    root = str(tmp_path / "t")
    LakeTable.create(root, physical_schema(TRANSCRIPTS), num_buckets=4)
    pipe = CdcPipeline(spark, root, str(tmp_path / "w"))
    results = {r.epoch_id: r for r in replay_bulk(pipe, src)}
    assert 9 in results, "empty epoch missing from results"
    assert results[9].events == 0 and not results[9].skipped
    assert pipe.commitlog.is_committed(9), "empty epoch not committed"
    # a re-run skips EVERYTHING, including the empty epoch
    again = {r.epoch_id: r for r in replay_bulk(pipe, src)}
    assert all(r.skipped for r in again.values())


def test_replay_bulk_ignores_hidden_files(spark, tmp_path):
    """Leading '.'/'_' names are hidden under Spark reader semantics
    (in-progress writers, committer artifacts) — reading one would
    corrupt the epoch fingerprint or crash on a partial file."""
    from etl_documentos_spark.streaming.stream import replay_bulk

    src = str(tmp_path / "ev")
    df = datagen.change_stream(
        spark, n_events=2_000, events_per_epoch=1000
    )
    datagen.write_epochs(df, src, files_per_epoch=2)
    d0 = os.path.join(src, "epoch=0")
    with open(os.path.join(d0, ".part-junk.snappy.parquet"), "wb") as f:
        f.write(b"half-written garbage, not parquet")
    with open(os.path.join(d0, "_committed_1.parquet"), "wb") as f:
        f.write(b"committer artifact")

    root = str(tmp_path / "t")
    LakeTable.create(root, physical_schema(TRANSCRIPTS), num_buckets=4)
    pipe = CdcPipeline(spark, root, str(tmp_path / "w"))
    results = replay_bulk(pipe, src)  # would crash reading the junk
    assert sum(r.events for r in results) == df.count()
