"""The Arrow compaction kernel (`operators.merge.compact_bucket`) against
the Spark reduction it replaces: ``lww_dedup`` over the buckets' scan plus
the tombstone-expiry filter, compared row for row on the physical table
(tombstones and system columns included)."""

from __future__ import annotations

import datetime
import logging

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators import merge
from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.operators.merge import (
    changes_to_physical,
    compact,
    merge_into,
    merge_mor,
    physical_schema,
)
from etl_documentos_spark.schemas import CHANGE_EVENTS, KEY_COLS, TRANSCRIPTS

T0 = datetime.datetime(2024, 1, 1)


def _sorted(rows):
    def key(r):
        return tuple((v is not None, v) for v in r)

    return sorted((tuple(r) for r in rows), key=key)


def _reference(spark, table, expire=None):
    df = lww_dedup(table.scan(spark), key_cols=KEY_COLS, order_cols=("ts", "_lsn"))
    if expire is not None:
        df = df.filter(
            (~F.coalesce(F.col("_deleted"), F.lit(False)))
            | (F.unix_micros(F.col("ts")) >= F.lit(int(expire)))
        )
    return _sorted(df.select(*table.schema.names).collect())


def _compacted(spark, table, route, caplog, **kw):
    """Compact, check the logged route, return the physical rows."""
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="etl_documentos_spark"):
        compact(spark, table, **kw)
    lines = [r.getMessage() for r in caplog.records if "compact " in r.getMessage()]
    assert len(lines) == 1 and f"route={route} " in lines[0], lines
    table._refresh()
    return _sorted(table.scan(spark).collect())


def _events(spark, rows):
    """CHANGE_EVENTS rows, every column nullable: None entries stay NULL
    (``lsn`` too, which physical rows may carry)."""
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_EVENTS.fields]
    )
    return spark.createDataFrame(rows, schema)


def _table(tmp_path, name="t", buckets=2, **props):
    return LakeTable.create(
        str(tmp_path / name),
        physical_schema(TRANSCRIPTS),
        num_buckets=buckets,
        properties=props or None,
    )


@pytest.fixture
def no_spark_route(monkeypatch):
    def boom(*a, **kw):
        raise AssertionError("Spark compaction route taken")

    monkeypatch.setattr(merge, "_spark_rewrite", boom)


def test_ties_and_null_versions_match_spark(spark, tmp_path, caplog, no_spark_route):
    """Exact (key, ts, _lsn) ties with different payloads break on the
    payload hash; NULL ts / NULL _lsn sort below every value."""
    t1 = T0 + datetime.timedelta(seconds=1)
    rows = []
    # a three-way tie on the winning version, and a tie on a losing one
    for i, txt in enumerate(["a", "b", "c"]):
        rows.append(("update", "tie", 0, "user", txt, None, t1, 5, i))
    rows += [("update", "tie", 0, "user", x, None, T0, 9, 0) for x in "xy"]
    # ties involving NULL columns of the payload
    rows += [
        ("update", "tie", 1, None, "p", None, t1, 7, 0),
        ("update", "tie", 1, "user", None, "tool", t1, 7, 0),
        ("delete", "tie", 1, "user", "p", None, t1, 7, 0),
    ]
    # NULL ts loses to any ts; NULL lsn loses to any lsn at equal ts
    rows += [
        ("insert", "nul", 0, "user", "null-ts", None, None, 10, 0),
        ("insert", "nul", 0, "user", "null-lsn", None, t1, None, 0),
        ("insert", "nul", 0, "user", "winner", None, t1, 3, 0),
        ("insert", "nul", 1, "user", "lsn-1", None, None, 1, 0),
        ("insert", "nul", 1, "user", "both-null", None, None, None, 0),
        # ties where the version itself is NULL
        ("insert", "nul", 2, "user", "n1", None, None, None, 0),
        ("insert", "nul", 2, "user", "n2", None, None, None, 1),
        ("insert", "nul", 3, "user", "m1", None, t1, None, 0),
        ("insert", "nul", 3, "asst", "m2", None, t1, None, 0),
    ]
    table = _table(tmp_path)
    df = _events(spark, rows)
    # several delta files per bucket, rows of one key spread across them
    for sp in range(3):
        merge_mor(spark, table, df.filter(F.col("source_partition") == sp))
    table._refresh()
    want = _reference(spark, table)
    got = _compacted(spark, table, "driver", caplog)
    assert got == want
    assert len(got) == 6  # one row per key


def test_tombstone_expiry_matches_spark(spark, tmp_path, caplog, no_spark_route):
    rows = []
    for turn in range(6):
        rows.append(("insert", "c", turn, "user", f"t{turn}", None, T0, turn, 0))
    old = T0 + datetime.timedelta(seconds=10)
    new = T0 + datetime.timedelta(seconds=100)
    rows += [
        ("delete", "c", 0, None, None, None, old, 100, 0),  # expires
        ("delete", "c", 1, None, None, None, new, 101, 0),  # survives
        ("delete", "c", 2, None, None, None, None, 102, 0),  # loses: NULL ts
        ("delete", "d", 0, None, None, None, old, 103, 0),  # lone tombstone
        ("insert", "e", 0, "user", "e", None, None, 6, 0),
        ("delete", "e", 0, None, None, None, None, 104, 0),  # NULL-ts winner
    ]
    table = _table(tmp_path)
    merge_mor(spark, table, _events(spark, rows))
    table._refresh()
    bound = int((T0 + datetime.timedelta(seconds=50)).replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    want = _reference(spark, table, expire=bound)
    got = _compacted(spark, table, "driver", caplog, expire_tombstones_before=bound)
    assert got == want
    ci = table.schema.names.index("_deleted")
    tomb = [(r[0], r[1]) for r in got if r[ci]]
    # only the tombstone newer than the bound survives; a NULL-ts
    # tombstone expires whatever the bound
    assert tomb == [("c", 1)]
    assert {(r[0], r[1]) for r in got} == {("c", t) for t in range(1, 6)}


def test_evolved_and_renamed_columns_match_spark(
    spark, tmp_path, caplog, no_spark_route
):
    table = _table(tmp_path)
    ch = datagen.change_stream(spark, n_events=1_500, n_convs=30, turns_per_conv=10)
    merge_mor(spark, table, ch.filter("lsn < 500"))
    table.add_columns([T.StructField("tool_call_id", T.StringType(), True)])
    table.rename_column("role", "speaker")
    table._refresh()
    later = (
        ch.filter("lsn >= 500")
        .withColumnRenamed("role", "speaker")
        .withColumn("tool_call_id", F.concat(F.lit("call-"), F.col("lsn").cast("string")))
    )
    merge_mor(spark, table, later.filter("lsn < 1000"))
    merge_mor(spark, table, later.filter("lsn >= 1000"))
    table._refresh()
    want = _reference(spark, table)
    si = table.schema.names.index("speaker")
    assert sum(r[si] is not None for r in want) > 0
    got = _compacted(spark, table, "driver", caplog)
    assert got == want
    # the rewrite holds the current names only
    t = table.current_snapshot.files
    f = table.root + "/" + next(iter(t.values()))[0]
    assert pq.read_schema(f).names == table.schema.names


def test_spark_written_inputs_match_spark(spark, tmp_path, caplog, no_spark_route):
    """Inputs from the shuffled Spark writer (`append`), a `merge_into`
    rewrite and a `split_bucket` rewrite, compacted over the split spec."""
    table = _table(tmp_path, buckets=2)
    ch = datagen.change_stream(spark, n_events=3_000, n_convs=40, turns_per_conv=20)
    merge_into(spark, table, ch.filter("lsn < 1000"))
    table.append(changes_to_physical(ch.filter("lsn >= 1000 and lsn < 2000"), table.schema))
    table.split_bucket(spark, 0)
    table._refresh()
    merge_mor(spark, table, ch.filter("lsn >= 2000"))
    table._refresh()
    assert table.split_buckets == [0]
    want = _reference(spark, table)
    got = _compacted(spark, table, "driver", caplog)
    assert got == want
    # every row still sits in the bucket its key hashes to
    for b, fs in table.current_snapshot.files.items():
        keys = table.scan(spark, buckets=[int(b)]).select(
            table.bucket_expr().alias("k")
        ).distinct().collect()
        assert [r.k for r in keys] == [int(b)], (b, fs)


def test_max_records_per_file_and_codec(spark, tmp_path, caplog, no_spark_route):
    table = _table(
        tmp_path, buckets=2,
        **{"write.max-records-per-file": "40", "write.compression": "zstd"},
    )
    ch = datagen.change_stream(spark, n_events=2_000, n_convs=30, turns_per_conv=10)
    for lo in range(0, 2_000, 500):
        merge_mor(spark, table, ch.filter(f"lsn >= {lo} and lsn < {lo + 500}"))
    table._refresh()
    want = _reference(spark, table)
    got = _compacted(spark, table, "driver", caplog)
    assert got == want
    snap = table.current_snapshot
    for fs in snap.files.values():
        assert len(fs) > 1
        ranges = []
        for p in fs:
            md = pq.read_metadata(f"{table.root}/{p}")
            assert md.num_rows <= 40
            assert md.row_group(0).column(0).compression == "ZSTD"
            ranges.append(tuple(snap.file_stats[p]["conv_id"]))
        ranges.sort()
        for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, ranges  # range-disjoint (a key may straddle)


def test_spark_route_cases_match_spark(spark, tmp_path, caplog, monkeypatch):
    """The Spark rewrite serves z-order, buckets that each fit
    ``target_file_bytes`` but together exceed it, compactions over
    `ARROW_COMPACT_MAX_BYTES`, and a column type with no Arrow mapping."""
    table = _table(tmp_path, buckets=4)
    ch = datagen.change_stream(spark, n_events=2_000, n_convs=40, turns_per_conv=10)

    def delta(lo, hi):  # new delta files, so every case has work to do
        merge_mor(spark, table, ch.filter(f"lsn >= {lo} and lsn < {hi}"))
        table._refresh()

    def check(**kw):
        want = _reference(spark, table)
        assert _compacted(spark, table, "spark", caplog, **kw) == want

    for lo in (0, 500, 1_000):
        delta(lo, lo + 500)
    check(zorder=("conv_id", "ts"))
    delta(1_500, 1_700)
    check(target_file_bytes=max(table.bucket_sizes().values()))
    delta(1_700, 1_850)
    monkeypatch.setattr(merge, "ARROW_COMPACT_MAX_BYTES", 1)
    check()
    monkeypatch.undo()
    delta(1_850, 2_000)
    table.add_columns([T.StructField("amount", T.DecimalType(12, 2), True)])
    check()


def test_compaction_logs_one_line(spark, tmp_path, caplog):
    table = _table(tmp_path, buckets=2)
    ch = datagen.change_stream(spark, n_events=600, n_convs=10, turns_per_conv=10)
    for lo in (0, 200, 400):
        merge_mor(spark, table, ch.filter(f"lsn >= {lo} and lsn < {lo + 200}"))
    table._refresh()
    n_in = sum(len(fs) for fs in table.current_snapshot.files.values())
    rows_in = table.scan(spark).count()
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="etl_documentos_spark"):
        compact(spark, table)
    [rec] = [r for r in caplog.records if r.name == "etl_documentos_spark"]
    table._refresh()
    n_out = sum(len(fs) for fs in table.current_snapshot.files.values())
    rows_out = table.scan(spark).count()
    msg = rec.getMessage()
    assert msg.startswith("compact buckets=2 route=driver ")
    assert f" files={n_in}->{n_out} " in msg
    assert f" rows={rows_in}->{rows_out} " in msg
    assert " bytes=" in msg and " ms=" in msg
