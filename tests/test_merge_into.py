"""`merge_into` and `merge_mor` stage through the change-batch kernel;
`merge_into` reduces the touched buckets with the compaction's LWW and
commits them as one logical overwrite."""

from __future__ import annotations

import datetime
import decimal
import logging
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.changelog import read_changes
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators import merge
from etl_documentos_spark.operators.dml import insert_into
from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.operators.merge import (
    SYSTEM_COL_NAMES,
    changes_to_physical,
    merge_into,
    merge_mor,
    physical_schema,
    read_current,
)
from etl_documentos_spark.schemas import CHANGE_EVENTS, KEY_COLS, TRANSCRIPTS

T0 = datetime.datetime(2024, 1, 1)


def _sorted(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((v is not None, v) for v in r),
    )


def _table(tmp_path, logical=TRANSCRIPTS, buckets=4):
    return LakeTable.create(
        str(tmp_path / "t"), physical_schema(logical), num_buckets=buckets
    )


def _want(table, changes):
    """The LWW reduction of every change batch applied, as a reader sees
    it."""
    df = changes_to_physical(changes, table.schema)
    win = lww_dedup(df, key_cols=KEY_COLS, order_cols=("ts", "_lsn"))
    live = win.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return _sorted(live.drop(*SYSTEM_COL_NAMES).collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _merge_lines(caplog):
    return [
        r.getMessage() for r in caplog.records if r.name == "etl_documentos_spark"
    ]


def test_merge_into_leaves_touched_buckets_reduced(spark, tmp_path, caplog):
    """Every bucket a merge touches holds one ``data/c-*`` rewrite, so
    `read_current` reads it without the LWW shuffle; each merge logs one
    ``merge`` line and no ``compact`` line."""
    table = _table(tmp_path)
    ch = datagen.change_stream(spark, n_events=1_500, n_convs=30, turns_per_conv=10)
    for lo, hi in ((0, 800), (800, 1_500)):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="etl_documentos_spark"):
            merge_into(spark, table, ch.filter(f"lsn >= {lo} and lsn < {hi}"))
        [line] = _merge_lines(caplog)
        assert line.startswith("merge buckets=4 route=driver "), line
    table._refresh()
    snap = table.current_snapshot
    assert sorted(snap.reduced_buckets()) == [0, 1, 2, 3]
    assert all(p.startswith("data/c-") for fs in snap.files.values() for p in fs)
    got = read_current(spark, table)
    assert "Exchange" not in _plan(got)
    assert _sorted(got.collect()) == _want(table, ch)


def test_merge_into_commits_a_logical_overwrite(spark, tmp_path):
    """The commit is one non-maintenance overwrite that changelog readers
    refuse, and the staging directory is gone; an empty batch commits
    nothing."""
    table = _table(tmp_path)
    ch = datagen.change_stream(spark, n_events=600, n_convs=10, turns_per_conv=10)
    merge_mor(spark, table, ch.filter("lsn < 300"))
    table._refresh()
    before = table.current_snapshot.snapshot_id
    merge_into(spark, table, ch.filter("lsn >= 300"))
    table._refresh()
    snap = table.current_snapshot
    assert snap.operation == "overwrite"
    assert "maintenance" not in snap.summary
    assert snap.parent_id == before
    with pytest.raises(ValueError):
        read_changes(spark, table, before, snap.snapshot_id)
    assert table.remove_orphan_files(grace_seconds=0) == 0

    def dirs_left():  # data dirs beyond those the snapshots reference
        used = {
            p.split("/")[1]
            for s in table.snapshots
            for fs in s.files.values()
            for p in fs
        }
        return set(os.listdir(f"{table.root}/data")) - used

    assert dirs_left() == set()
    merge_into(spark, table, ch.filter("lsn < 0"))
    table._refresh()
    assert table.current_snapshot.snapshot_id == snap.snapshot_id
    assert dirs_left() == set()


def test_non_arrow_table_takes_shuffled_and_spark_routes(
    spark, tmp_path, caplog, monkeypatch
):
    """A ``DecimalType`` column has no Arrow mapping: both operators stage
    with the shuffled writer and `merge_into` reduces on Spark; the result
    equals ``lww_dedup`` over every batch."""
    logical = T.StructType(
        list(TRANSCRIPTS.fields) + [T.StructField("amount", T.DecimalType(12, 2))]
    )
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_EVENTS.fields]
        + [T.StructField("amount", T.DecimalType(12, 2))]
    )
    rows = []
    for i in range(120):
        op = "delete" if i % 17 == 0 else "update"
        ts = T0 + datetime.timedelta(seconds=i % 40)
        rows.append(
            (op, f"c{i % 9}", i % 5, "user", f"t{i}", None, ts, i, i % 2,
             decimal.Decimal(i) / 4)
        )
    changes = spark.createDataFrame(rows, schema)
    table = _table(tmp_path, logical)

    def boom(*a, **kw):
        raise AssertionError("change-batch kernel used on a non-Arrow table")

    monkeypatch.setattr(LakeTable, "write_data_files_direct", boom)
    with caplog.at_level(logging.INFO, logger="etl_documentos_spark"):
        merge_into(spark, table, changes.filter("lsn < 50"))
        merge_mor(spark, table, changes.filter("lsn >= 50 and lsn < 90"))
        merge_into(spark, table, changes.filter("lsn >= 90"))
    lines = _merge_lines(caplog)
    assert len(lines) == 2 and all(" route=spark " in m for m in lines), lines
    table._refresh()
    assert _sorted(read_current(spark, table).collect()) == _want(table, changes)
    data = sorted(os.listdir(f"{table.root}/data"))
    merge_into(spark, table, changes.filter("lsn < 0"))  # stages no file
    assert sorted(os.listdir(f"{table.root}/data")) == data


def test_insert_into_counts_each_key_once(spark, tmp_path):
    """Two INSERT rows for one key count once (the batch's own LWW), and
    the later version is the row that stays."""
    table = _table(tmp_path)
    rows = spark.createDataFrame(
        [("c1", 0, "first", T0), ("c1", 0, "second", T0 + datetime.timedelta(1))],
        "conv_id string, turn_idx int, text string, ts timestamp",
    )
    assert insert_into(spark, table, rows) == 1
    table._refresh()
    [row] = read_current(spark, table).collect()
    assert row["text"] == "second"
    hot = merge.bucket_of(spark, table, "c1")
    assert hot in table.current_snapshot.reduced_buckets()
