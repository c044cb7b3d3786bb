"""The driver-side point lookup and the three read routes.

`point_lookup` reads `lookup_files` with pyarrow and reduces them with
`lww_arrow`; it must return exactly `read_current(...)`'s rows for the
key. `read_current` scans buckets that hold one compaction's output
(``data/c-*``) as they are, reduces the other buckets in one
``mapInArrow`` job on the Arrow LWW kernel, and leaves `lww_dedup` to
buckets over the cap and tables without an Arrow mapping; on every route
it must equal the full LWW reduction of the same snapshot, schema
included."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable, Snapshot
from etl_documentos_spark.operators import merge
from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.operators.merge import (
    SYSTEM_COL_NAMES,
    compact,
    lookup_files,
    merge_mor,
    physical_schema,
    point_lookup,
    read_current,
)
from etl_documentos_spark.schemas import CHANGE_EVENTS, KEY_COLS, TRANSCRIPTS

T0 = datetime.datetime(2024, 1, 1)


def _sorted(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((v is not None, v) for v in r),
    )


def _table(tmp_path, buckets=2, **props):
    return LakeTable.create(
        str(tmp_path / "t"),
        physical_schema(TRANSCRIPTS),
        num_buckets=buckets,
        properties=props or None,
    )


def _events(spark, rows):
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_EVENTS.fields]
    )
    return spark.createDataFrame(rows, schema)


def _stream(spark, n=1_500, convs=30):
    return datagen.change_stream(spark, n_events=n, n_convs=convs, turns_per_conv=10)


def _mor(spark, table, ch, cuts):
    """One delta append per ``[lo, hi)`` lsn slice of ``ch``."""
    for lo, hi in zip(cuts, cuts[1:]):
        merge_mor(spark, table, ch.filter(f"lsn >= {lo} and lsn < {hi}"))
        table._refresh()


# ------------------------------------------------------------------ lookup
def _check_lookups(spark, table, keys, arrow=True):
    """Every key's lookup equals read_current filtered on it; the Arrow
    route returns a local relation (no files, no job), the Spark route a
    file scan."""
    current = read_current(spark, table)
    for k in keys:
        got = point_lookup(spark, table, k)
        want = current.filter(F.col(table.bucket_col) == F.lit(k))
        assert got.columns == want.columns
        assert _sorted(got.collect()) == _sorted(want.collect()), k
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert ("LocalRelation" in plan) == arrow, plan
        if arrow:
            assert got.inputFiles() == []


def _keys(spark, table):
    return sorted(
        {r[0] for r in table.scan(spark).select(table.bucket_col).collect()}
    )


def test_lookup_mor_with_tombstones(spark, tmp_path):
    table = _table(tmp_path)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 400, 800, 1_200, 1_600])
    scan = table.scan(spark)
    assert scan.filter("_deleted").count() > 0
    keys = _keys(spark, table)
    _check_lookups(spark, table, keys[:8] + ["conv_hot"])
    # a conversation whose every turn ends deleted returns no rows
    gone = [("delete", "gone", t, None, None, None, T0, 9_000 + t, 0)
            for t in range(3)]
    born = [("insert", "gone", t, "user", "x", None, T0, 8_000 + t, 0)
            for t in range(3)]
    merge_mor(spark, table, _events(spark, born))
    merge_mor(spark, table, _events(spark, gone))
    table._refresh()
    assert point_lookup(spark, table, "gone").collect() == []
    _check_lookups(spark, table, ["gone"])


def test_lookup_exact_version_ties(spark, tmp_path):
    """Equal (ts, _lsn) with different payloads: the payload-hash
    tie-break picks the same row as the Spark reduction."""
    t1 = T0 + datetime.timedelta(seconds=1)
    rows = []
    for i, txt in enumerate("abcde"):
        rows.append(("update", "tie", 0, "user", txt, None, t1, 5, i))
    rows += [
        ("update", "tie", 1, None, "p", None, t1, 7, 0),
        ("update", "tie", 1, "user", None, "tool", t1, 7, 0),
        ("delete", "tie", 1, "user", "p", None, t1, 7, 0),
        ("insert", "tie", 2, "user", "n1", None, None, None, 0),
        ("insert", "tie", 2, "user", "n2", None, None, None, 1),
    ]
    table = _table(tmp_path)
    df = _events(spark, rows)
    for sp in range(5):
        merge_mor(spark, table, df.filter(F.col("source_partition") == sp))
    table._refresh()
    _check_lookups(spark, table, ["tie"])


def test_lookup_evolved_and_renamed_columns(spark, tmp_path):
    table = _table(tmp_path)
    ch = _stream(spark)
    merge_mor(spark, table, ch.filter("lsn < 500"))
    table.add_columns([T.StructField("tool_call_id", T.StringType(), True)])
    table.rename_column("role", "speaker")
    table._refresh()
    later = (
        ch.filter("lsn >= 500")
        .withColumnRenamed("role", "speaker")
        .withColumn(
            "tool_call_id", F.concat(F.lit("call-"), F.col("lsn").cast("string"))
        )
    )
    _mor(spark, table, later, [500, 1_000, 1_600])
    keys = _keys(spark, table)
    rows = point_lookup(spark, table, keys[0]).collect()
    assert any(r["speaker"] is not None for r in rows)
    _check_lookups(spark, table, keys[:6] + ["conv_hot"])


def test_lookup_split_bucket(spark, tmp_path):
    table = _table(tmp_path, buckets=2)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 700])
    table.split_bucket(spark, 0)
    table._refresh()
    _mor(spark, table, ch, [700, 1_600])
    assert table.split_buckets == [0]
    _check_lookups(spark, table, _keys(spark, table)[:10])


def test_lookup_absent_key_and_compacted(spark, tmp_path):
    """An absent key returns no rows; over a sorted compaction the pruned
    file list is a strict subset of the bucket."""
    table = _table(tmp_path, **{"write.max-records-per-file": "40"})
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 800, 1_600])
    _check_lookups(spark, table, ["conv_3a", "nope"])
    compact(spark, table)
    table._refresh()
    _mor(spark, table, ch.filter("conv_id = 'conv_7'"), [1_500, 1_600])
    _check_lookups(spark, table, ["conv_3a", "conv_7", "conv_hot"])
    assert point_lookup(spark, table, "conv_3a").collect() == []
    b = merge.bucket_of(spark, table, "conv_7")
    assert 0 < len(lookup_files(spark, table, "conv_7")) < len(
        table.current_snapshot.files[str(b)]
    )


def test_lookup_without_arrow_mapping_takes_spark(spark, tmp_path, monkeypatch):
    table = _table(tmp_path)
    ch = _stream(spark, n=800)
    _mor(spark, table, ch, [0, 400, 800])
    table.add_columns([T.StructField("amount", T.DecimalType(12, 2), True)])
    table._refresh()
    merge_mor(
        spark, table,
        ch.filter("lsn < 100").withColumn("amount", F.lit(1.5).cast("decimal(12,2)")),
    )
    table._refresh()

    def boom(*a, **kw):
        raise AssertionError("Arrow read on a table without an Arrow mapping")

    monkeypatch.setattr(LakeTable, "read_data_files_arrow", staticmethod(boom))
    keys = _keys(spark, table)[:4]
    _check_lookups(spark, table, keys, arrow=False)
    got = point_lookup(spark, table, keys[0])
    assert sorted(f.removeprefix("file://") for f in got.inputFiles()) == sorted(
        lookup_files(spark, table, keys[0])
    )


# ------------------------------------------------------------ compacted read
def _reference(spark, table, snapshot_id=None):
    """The full LWW reduction of one snapshot: what read_current was
    before compacted buckets skipped it."""
    df = lww_dedup(
        table.scan(spark, snapshot_id=snapshot_id),
        key_cols=KEY_COLS,
        order_cols=("ts", "_lsn"),
    )
    live = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return live.drop(*SYSTEM_COL_NAMES)


def _check_read(spark, table, snapshot_id=None):
    got = read_current(spark, table, snapshot_id=snapshot_id)
    want = _reference(spark, table, snapshot_id)
    assert got.columns == want.columns
    assert _sorted(got.collect()) == _sorted(want.collect())
    return got


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_reduced_buckets_rule():
    def snap(files):
        return Snapshot(1, None, 0, "append", {}, files)

    files = {
        "0": ["data/c-a/b00000-x.parquet", "data/c-a/b00000-y.parquet"],
        "1": ["data/c-a/_bucket=1/part-0.parquet"],
        "2": ["data/c-a/b00002-x.parquet", "data/w-b/b00002-z.parquet"],
        "3": ["data/c-a/b00003-x.parquet", "data/c-b/b00003-x.parquet"],
        "4": ["data/w-a/b00004-x.parquet"],
        "5": [],
        "6": ["c-a/b00006-x.parquet"],
    }
    assert sorted(snap(files).reduced_buckets()) == [0, 1]


def test_fully_compacted_read_has_no_shuffle(spark, tmp_path):
    table = _table(tmp_path, buckets=4)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 500, 1_000, 1_600])
    assert table.current_snapshot.reduced_buckets() == []
    assert "MapInArrow" in _plan(read_current(spark, table))
    want = _sorted(_reference(spark, table).collect())
    compact(spark, table)
    table._refresh()
    snap = table.current_snapshot
    assert all(p.startswith("data/c-") for fs in snap.files.values() for p in fs)
    assert sorted(snap.reduced_buckets()) == sorted(int(b) for b in snap.files)
    got = _check_read(spark, table)
    assert _sorted(got.collect()) == want
    assert "Exchange" not in _plan(got) and "MapInArrow" not in _plan(got)


def test_compaction_then_append_same_bucket(spark, tmp_path):
    table = _table(tmp_path, buckets=4)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 800])
    compact(spark, table)
    table._refresh()
    _mor(spark, table, ch.filter("conv_id = 'conv_hot'"), [800, 1_600])
    hot = merge.bucket_of(spark, table, "conv_hot")
    reduced = table.current_snapshot.reduced_buckets()
    assert hot not in reduced and len(reduced) == 3
    got = _check_read(spark, table)
    assert "Union" in got._jdf.queryExecution().optimizedPlan().toString()


def test_append_during_compaction_stays_a_delta(spark, tmp_path, monkeypatch):
    """An append committed while the compaction runs survives as a
    ``w-`` file of the bucket (``expected=``), so that bucket keeps the
    LWW read."""
    table = _table(tmp_path, buckets=2)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 1_000])
    late = ch.filter("lsn >= 1000 and conv_id = 'conv_hot'")
    real = merge._arrow_rewrite

    def racing(t, *a, **kw):
        out = real(t, *a, **kw)
        merge_mor(spark, LakeTable.load(t.root), late)
        return out

    monkeypatch.setattr(merge, "_arrow_rewrite", racing)
    compact(spark, table)
    table._refresh()
    hot = merge.bucket_of(spark, table, "conv_hot")
    fs = table.current_snapshot.files[str(hot)]
    assert any(p.startswith("data/w-") for p in fs)
    assert any(p.startswith("data/c-") for p in fs)
    assert hot not in table.current_snapshot.reduced_buckets()
    assert len(table.current_snapshot.reduced_buckets()) == 1
    _check_read(spark, table)
    _check_lookups(spark, table, ["conv_hot"])


def test_zorder_compaction_is_reduced(spark, tmp_path):
    table = _table(tmp_path, buckets=2)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 800, 1_600])
    compact(spark, table, zorder=("conv_id", "ts"))
    table._refresh()
    snap = table.current_snapshot
    assert any("/_bucket=" in p for fs in snap.files.values() for p in fs)
    assert sorted(snap.reduced_buckets()) == sorted(int(b) for b in snap.files)
    assert "Exchange" not in _plan(_check_read(spark, table))


def test_rollback_and_time_travel(spark, tmp_path):
    table = _table(tmp_path, buckets=2)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 600])
    before = table.current_snapshot.snapshot_id
    compact(spark, table)
    table._refresh()
    compacted = table.current_snapshot.snapshot_id
    _mor(spark, table, ch, [600, 1_600])
    for sid in (before, compacted, None):
        _check_read(spark, table, snapshot_id=sid)
    assert "Exchange" not in _plan(read_current(spark, table, snapshot_id=compacted))
    table.rollback(compacted)
    table._refresh()
    assert "Exchange" not in _plan(_check_read(spark, table))
    table.rollback(before)
    table._refresh()
    assert table.current_snapshot.reduced_buckets() == []
    _check_read(spark, table)


def test_compaction_staged_under_w_keeps_the_lww(spark, tmp_path, monkeypatch):
    """A table compacted before compactions staged into ``data/c-*`` holds
    its outputs under ``w-``: those buckets are not known to be reduced
    and read through the LWW (the Arrow one)."""
    real = merge._stage_rel
    monkeypatch.setattr(merge, "_stage_rel", lambda kind="w": real("w"))
    table = _table(tmp_path, buckets=2)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 800, 1_600])
    compact(spark, table)
    table._refresh()
    assert table.current_snapshot.reduced_buckets() == []
    assert "MapInArrow" in _plan(_check_read(spark, table))


# ------------------------------------------------------------- read routes
def _check_routes(spark, table, route, snapshot_id=None, ref=None):
    """``read_current`` equals `_reference` of the same snapshot, rows and
    schema (every column nullable but on an empty table), and its plan is the one of ``route``
    (the log line's): an Arrow route runs ``mapInArrow`` and no shuffle
    in at most ``defaultParallelism`` tasks, a Spark route the shuffle."""
    got = read_current(spark, table, snapshot_id=snapshot_id, ref=ref)
    sid = table.snapshot_at(snapshot_id, ref).snapshot_id
    want = _reference(spark, table, sid)
    assert got.schema == want.schema
    # an empty table keeps its declared nullability, as it always did
    assert all(f.nullable for f in got.schema.fields) or route == "empty"
    assert _sorted(got.collect()) == _sorted(want.collect())
    plan = _plan(got)
    parts = route.split("+")
    assert ("MapInArrow" in plan) == ("arrow" in parts), plan
    if route != "empty":
        assert ("Exchange" in plan) == ("spark" in parts), plan
    if parts == ["arrow"]:
        assert got.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    return got


def _read_log(caplog, spark, table, **kw) -> str:
    caplog.clear()
    with caplog.at_level("INFO", logger="etl_documentos_spark"):
        read_current(spark, table, **kw)
    (line,) = [
        r.getMessage() for r in caplog.records if r.getMessage().startswith("read ")
    ]
    return line


def test_arrow_read_mor_tombstones_and_ties(spark, tmp_path, caplog):
    table = _table(tmp_path, buckets=8)
    _mor(spark, table, _stream(spark), [0, 400, 800, 1_200, 1_600])
    t1 = T0 + datetime.timedelta(seconds=1)
    ties = [("update", "tie", 0, "user", txt, None, t1, 5, i)
            for i, txt in enumerate("abcde")]
    ties += [
        ("update", "tie", 1, None, "p", None, t1, 7, 0),
        ("update", "tie", 1, "user", None, "tool", t1, 7, 0),
        ("delete", "tie", 1, "user", "p", None, t1, 7, 0),
        ("insert", "tie", 2, "user", "n1", None, None, None, 0),
        ("insert", "tie", 2, "user", "n2", None, None, None, 1),
    ]
    df = _events(spark, ties)
    for sp in range(5):
        merge_mor(spark, table, df.filter(F.col("source_partition") == sp))
    table._refresh()
    assert table.scan(spark).filter("_deleted").count() > 0
    _check_routes(spark, table, "arrow")
    line = _read_log(caplog, spark, table)
    size = sum(table.bucket_sizes().values())
    assert line == (
        f"read route=arrow reduced=0 arrow=8 spark=0 tasks=4 bytes={size}"
    )


def test_arrow_read_evolved_and_renamed_columns(spark, tmp_path):
    table = _table(tmp_path)
    ch = _stream(spark)
    merge_mor(spark, table, ch.filter("lsn < 500"))
    table.add_columns([T.StructField("tool_call_id", T.StringType(), True)])
    table.rename_column("role", "speaker")
    table._refresh()
    later = (
        ch.filter("lsn >= 500")
        .withColumnRenamed("role", "speaker")
        .withColumn(
            "tool_call_id", F.concat(F.lit("call-"), F.col("lsn").cast("string"))
        )
    )
    _mor(spark, table, later, [500, 1_000, 1_600])
    got = _check_routes(spark, table, "arrow")
    assert got.filter("speaker is not null and tool_call_id is null").count() > 0


def test_arrow_read_split_bucket(spark, tmp_path):
    table = _table(tmp_path, buckets=2)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 700])
    table.split_bucket(spark, 0)
    table._refresh()
    _mor(spark, table, ch, [700, 1_600])
    assert table.split_buckets == [0]
    _check_routes(spark, table, "arrow")


def test_arrow_read_mixed_with_reduced_buckets(spark, tmp_path, caplog):
    table = _table(tmp_path, buckets=4)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 800])
    compact(spark, table)
    table._refresh()
    _mor(spark, table, ch.filter("conv_id = 'conv_hot'"), [800, 1_600])
    assert len(table.current_snapshot.reduced_buckets()) == 3
    _check_routes(spark, table, "scan+arrow")
    assert _read_log(caplog, spark, table).startswith(
        "read route=scan+arrow reduced=3 arrow=1 spark=0 tasks=1 "
    )


def test_arrow_read_snapshot_tag_and_branch(spark, tmp_path):
    table = _table(tmp_path, buckets=4)
    ch = _stream(spark)
    _mor(spark, table, ch, [0, 600])
    first = table.current_snapshot.snapshot_id
    table.tag("first")
    _mor(spark, table, ch, [600, 1_000])
    table.create_branch("audit")
    merge_mor(spark, table, ch.filter("lsn >= 1000"), branch="audit")
    _mor(spark, table, ch.filter("conv_id = 'conv_hot'"), [1_000, 1_600])
    table._refresh()
    for kw in ({"snapshot_id": first}, {"ref": "first"}, {"ref": "audit"}, {}):
        _check_routes(spark, table, "arrow", **kw)
    branch = _sorted(read_current(spark, table, ref="audit").collect())
    assert branch != _sorted(read_current(spark, table).collect())


def test_arrow_read_empty_table(spark, tmp_path, caplog):
    table = _table(tmp_path)
    got = _check_routes(spark, table, "empty")
    assert got.count() == 0
    assert _read_log(caplog, spark, table) == (
        "read route=empty reduced=0 arrow=0 spark=0 tasks=0 bytes=0"
    )


def test_bucket_over_the_cap_takes_lww(spark, tmp_path, monkeypatch, caplog):
    table = _table(tmp_path, buckets=4)
    _mor(spark, table, _stream(spark), [0, 500, 1_000, 1_600])
    sizes = sorted(table.bucket_sizes().values())
    # a bucket's share of the cap: the tasks running at once hold at most
    # the cap between them
    n = min(spark.sparkContext.defaultParallelism, 4)
    monkeypatch.setattr(merge, "ARROW_COMPACT_MAX_BYTES", sizes[1] * n)
    _check_routes(spark, table, "arrow+spark")
    assert _read_log(caplog, spark, table).startswith(
        "read route=arrow+spark reduced=0 arrow=2 spark=2 tasks=2 "
    )
    monkeypatch.setattr(merge, "ARROW_COMPACT_MAX_BYTES", sizes[1] * n - 1)
    assert _read_log(caplog, spark, table).startswith(
        "read route=arrow+spark reduced=0 arrow=1 spark=3 tasks=1 "
    )
    monkeypatch.setattr(merge, "ARROW_COMPACT_MAX_BYTES", sizes[0] * n - 1)
    _check_routes(spark, table, "spark")


def test_decimal_column_takes_lww(spark, tmp_path, monkeypatch):
    table = _table(tmp_path)
    ch = _stream(spark, n=800)
    _mor(spark, table, ch, [0, 400, 800])
    table.add_columns([T.StructField("amount", T.DecimalType(12, 2), True)])
    table._refresh()
    merge_mor(
        spark, table,
        ch.filter("lsn < 100").withColumn("amount", F.lit(1.5).cast("decimal(12,2)")),
    )
    table._refresh()

    def boom(*a, **kw):
        raise AssertionError("Arrow read on a table without an Arrow mapping")

    monkeypatch.setattr(LakeTable, "read_data_files_arrow", staticmethod(boom))
    got = _check_routes(spark, table, "spark")
    assert got.filter("amount is not null").count() > 0
