"""Dead-letter queue: row-level-invalid change events divert, never poison.

Contract: with quarantine on, an epoch containing malformed rows (unknown
op, null key/version fields) applies its valid rows exactly as a clean
epoch would, diverts the bad rows to ``workdir/dlq/epoch=N`` with a typed
reason, and crash-replay of the epoch rewrites (not duplicates) the DLQ.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from etl_documentos_spark import oracle
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import physical_schema, read_current
from etl_documentos_spark.schemas import TRANSCRIPTS
from etl_documentos_spark.streaming.apply import CdcPipeline

T0 = datetime.datetime(2024, 1, 1)
SCHEMA = (
    "op string, conv_id string, turn_idx int, role string, text string,"
    " tool string, ts timestamp, lsn long, source_partition int"
)


def _rows():
    good = [
        ("insert", f"conv_{i % 4}", i % 3, "user", f"v{i}", None,
         T0 + datetime.timedelta(seconds=i), i, 0)
        for i in range(30)
    ]
    bad = [
        ("frobnicate", "conv_0", 0, "user", "bad op", None, T0, 100, 0),
        ("insert", None, 0, "user", "bad key", None, T0, 101, 0),
        ("insert", "conv_1", None, "user", "bad turn", None, T0, 102, 0),
        ("insert", "conv_1", 1, "user", "bad lsn", None, T0, None, 0),
        ("insert", "conv_2", 1, "user", "bad ts", None, None, 104, 0),
    ]
    return good, bad


@pytest.fixture()
def dlq_pipeline(spark, tmp_path):
    LakeTable.create(
        str(tmp_path / "t"), physical_schema(TRANSCRIPTS), num_buckets=2
    )
    return CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "w"), quarantine=True
    )


def test_bad_rows_divert_and_good_rows_apply(spark, dlq_pipeline):
    pipe = dlq_pipeline
    good, bad = _rows()
    df = spark.createDataFrame(good + bad, SCHEMA)
    res = pipe.apply_epoch(df, 0)
    assert res.quarantined == len(bad)
    assert res.events == len(good)

    got = [
        r.asDict()
        for r in read_current(spark, pipe.table)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    cols = [c.split()[0] for c in SCHEMA.split(", ")]
    want = oracle.reduce_events([dict(zip(cols, e)) for e in good])
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert all(g[c] == w[c] for c in g)

    dlq = pipe.read_dlq().collect()
    assert len(dlq) == len(bad)
    reasons = sorted(r["_dlq_reason"] for r in dlq)
    assert reasons == sorted(
        ["unknown_op", "null_conv_id", "null_turn_idx", "null_lsn", "null_ts"]
    )
    # every source column preserved for replay tooling
    assert {r["text"] for r in dlq} == {e[4] for e in bad}


def test_crash_replay_rewrites_dlq(spark, dlq_pipeline):
    pipe = dlq_pipeline
    good, bad = _rows()
    df = spark.createDataFrame(good + bad, SCHEMA)
    pipe.apply_epoch(df, 0)
    # simulate crash after DLQ write, before commit: wipe the commit record
    # and re-apply the same epoch — at-least-once delivery
    import shutil

    shutil.rmtree(pipe.commitlog.root)
    pipe2 = CdcPipeline(
        pipe.spark, pipe.table_root, pipe.workdir, quarantine=True
    )
    pipe2.apply_epoch(df, 0)
    assert pipe2.read_dlq().count() == len(bad)  # rewritten, not doubled
    # and the table state is unchanged (LWW absorbed the replay)
    assert read_current(spark, pipe2.table).count() == len(
        {(e[1], e[2]) for e in good}
    )


def test_clean_epoch_writes_no_dlq(spark, dlq_pipeline):
    pipe = dlq_pipeline
    good, _ = _rows()
    res = pipe.apply_epoch(spark.createDataFrame(good, SCHEMA), 0)
    assert res.quarantined == 0
    with pytest.raises(FileNotFoundError):
        pipe.read_dlq()


def test_replay_epochs_quarantines_on_file_route(
    spark, dlq_pipeline, tmp_path, monkeypatch
):
    """replay_epochs applies a quarantine pipeline's local epochs through
    the file feeder — the DataFrame feeder never runs — and the kernel's
    validity mask still diverts the malformed rows to the DLQ."""
    from etl_documentos_spark.streaming.stream import replay_epochs

    def dataframe_writer(*a, **kw):
        raise AssertionError("replay_epochs took the DataFrame writer")

    monkeypatch.setattr(LakeTable, "write_data_files_direct", dataframe_writer)
    good, bad = _rows()
    events = str(tmp_path / "events")
    spark.createDataFrame(good + bad, SCHEMA).write.parquet(
        os.path.join(events, "epoch=0")
    )
    (res,) = replay_epochs(dlq_pipeline, events)
    assert res.quarantined == len(bad)
    assert res.events == len(good)
    assert dlq_pipeline.read_dlq().count() == len(bad)
    assert read_current(spark, dlq_pipeline.table).count() == len(
        {(e[1], e[2]) for e in good}
    )


@pytest.mark.parametrize("route", ["apply_epoch", "replay_epochs"])
def test_null_lsn_quarantined_behind_bootstrap_fence(
    spark, dlq_pipeline, tmp_path, route
):
    """With a bootstrap watermark set, a null-``lsn`` row is quarantined
    like any invalid row: the validity mask runs before the fence, which
    would otherwise drop it silently (``NULL > wm`` is not true)."""
    from etl_documentos_spark.streaming.stream import replay_epochs

    pipe = dlq_pipeline
    snapshot = spark.createDataFrame(
        [("conv_9", 0, "user", "snap", None, T0)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    pipe.bootstrap(snapshot, watermark_lsn=10)
    rows = [
        ("insert", "conv_0", 0, "user", "good", None, T0, 20, 0),
        ("insert", "conv_1", 0, "user", "no lsn", None, T0, None, 0),
        ("frobnicate", "conv_2", 0, "user", "bad op", None, T0, 21, 0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    if route == "apply_epoch":
        res = pipe.apply_epoch(df, 1)
    else:
        events = str(tmp_path / "events")
        df.write.parquet(os.path.join(events, "epoch=1"))
        (res,) = replay_epochs(pipe, events, epochs=[1])
    assert (res.events, res.quarantined) == (1, 2)
    reasons = sorted(r["_dlq_reason"] for r in pipe.read_dlq([1]).collect())
    assert reasons == ["null_lsn", "unknown_op"]
