"""Incremental changelog read (CDC-out): manifest-diff change feed."""

from __future__ import annotations

import datetime

import pytest

from etl_documentos_spark.lake.changelog import read_changes
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import (
    changes_to_physical,
    compact,
    merge_into,
    physical_schema,
)
from etl_documentos_spark.schemas import CHANGE_EVENTS, TRANSCRIPTS

T0 = datetime.datetime(2024, 1, 1)


def ev(op, conv, turn, ts_s, lsn, text=None):
    return (
        op, conv, turn,
        "user" if op != "delete" else None,
        text, None, T0 + datetime.timedelta(seconds=ts_s), lsn, 0,
    )


@pytest.fixture()
def mor_table(spark, tmp_path):
    """MOR-style table: three append commits (snapshots 2, 3, 4)."""
    root = str(tmp_path / "t")
    table = LakeTable.create(root, physical_schema(TRANSCRIPTS), num_buckets=4)
    batches = [
        [ev("insert", "c1", 0, 10, 1, "a"), ev("insert", "c2", 0, 11, 2, "b")],
        [ev("update", "c1", 0, 20, 3, "a2"), ev("delete", "c2", 0, 21, 4)],
        [ev("insert", "c3", 5, 30, 5, "c")],
    ]
    for b in batches:
        table.append(
            changes_to_physical(
                spark.createDataFrame(b, CHANGE_EVENTS), table.schema
            )
        )
    return table, batches


def _feed(df):
    return sorted(
        (
            (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"],
             r["_change_op"], r["_change_snapshot_id"])
            for r in df.collect()
        ),
        key=lambda t: (t[0], t[1], t[2] is None, t[2] or "", t[3]),
    )


def test_full_range_attributes_rows_to_snapshots(spark, mor_table):
    table, batches = mor_table
    got = _feed(read_changes(spark, table, from_snapshot_id=1))
    want = sorted(
        (
            (
                b[1], b[2], b[4],
                b[7], "delete" if b[0] == "delete" else "upsert", sid,
            )
            for sid, batch in zip((2, 3, 4), batches)
            for b in batch
        ),
        key=lambda t: (t[0], t[1], t[2] is None, t[2] or "", t[3]),
    )
    assert got == want


def test_bounded_range_and_empty_range(spark, mor_table):
    table, batches = mor_table
    mid = _feed(read_changes(spark, table, 2, to_snapshot_id=3))
    assert {r[5] for r in mid} == {3}
    assert len(mid) == len(batches[1])
    assert read_changes(spark, table, 4).count() == 0


def test_compaction_is_invisible_to_the_feed(spark, mor_table):
    table, batches = mor_table
    compact(spark, table)
    table._refresh()
    # feed across the compaction snapshot: only the logical appends appear
    got = _feed(read_changes(spark, table, from_snapshot_id=1))
    assert len(got) == sum(len(b) for b in batches)
    assert {r[5] for r in got} == {2, 3, 4}
    # nothing after the last append
    assert read_changes(spark, table, 4).count() == 0


def test_logical_overwrite_refused_then_skipped(spark, mor_table):
    table, _ = mor_table
    cow = spark.createDataFrame(
        [ev("update", "c1", 0, 40, 9, "cow")], CHANGE_EVENTS
    )
    merge_into(spark, table, cow)
    table._refresh()
    with pytest.raises(ValueError, match="logical overwrite"):
        read_changes(spark, table, 1).collect()
    skipped = read_changes(spark, table, 1, on_logical_overwrite="skip")
    # appends still flow; the COW commit contributes nothing
    assert {r["_change_snapshot_id"] for r in skipped.collect()} == {2, 3, 4}


def test_unknown_bounds_raise(spark, mor_table):
    table, _ = mor_table
    with pytest.raises(KeyError):
        read_changes(spark, table, 99)
    with pytest.raises(KeyError):
        read_changes(spark, table, 1, to_snapshot_id=99)
