"""Manifest file stats (Iceberg lower/upper-bounds analogue) + pruned lookups.

The scale claim under test: after a sorted compaction, fetching one
conversation from the lake opens ~1 data file — bucket pruning (manifest)
x min/max file skipping (manifest stats) — instead of the bucket's whole
file history, while returning exactly the same rows as the full LWW read.
"""

from __future__ import annotations

import datetime

import pytest

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable, Snapshot, _stat_json
from etl_documentos_spark.operators.merge import (
    bucket_of,
    compact,
    lookup_files,
    merge_into,
    physical_schema,
    point_lookup,
    read_current,
)
from etl_documentos_spark.schemas import TRANSCRIPTS


@pytest.fixture(scope="module")
def stats_table(spark, tmp_path_factory):
    """A table built from 3 merge batches then sorted-compacted, with a
    small max-records-per-file so each bucket holds several range-disjoint
    files after compaction."""
    root = str(tmp_path_factory.mktemp("stats") / "t")
    table = LakeTable.create(
        root,
        physical_schema(TRANSCRIPTS),
        num_buckets=4,
        properties={"write.max-records-per-file": "40"},
    )
    ch = datagen.change_stream(
        spark, n_events=3_000, n_convs=60, turns_per_conv=20
    ).persist()
    for lo, hi in ((0, 1000), (1000, 2000), (2000, 3_000_000)):
        batch = ch.filter((ch.lsn >= lo) & (ch.lsn < hi))
        merge_into(spark, table, batch)
    compact(spark, table)
    table._refresh()
    return table, ch


def test_commits_record_file_stats(stats_table):
    table, _ = stats_table
    snap = table.current_snapshot
    live = {p for fs in snap.files.values() for p in fs}
    assert snap.file_stats, "compacted snapshot must carry file stats"
    # stats index only live files, and record the bucket key's range
    assert set(snap.file_stats) <= live
    for st in snap.file_stats.values():
        lo, hi = st["conv_id"]
        assert isinstance(lo, str) and isinstance(hi, str) and lo <= hi


def test_sorted_compaction_yields_disjoint_ranges(stats_table):
    """Range-partitioned sorted rewrite => files within a bucket cover
    non-overlapping conv_id ranges (ties at file boundaries allowed)."""
    table, _ = stats_table
    snap = table.current_snapshot
    multi = 0
    for fs in snap.files.values():
        ranges = sorted(
            tuple(snap.file_stats[p]["conv_id"]) for p in fs
        )
        if len(ranges) > 1:
            multi += 1
        for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            # boundary conv may straddle two files (hi1 == lo2); true
            # overlap (hi1 > lo2) would break pruning's tightness claim
            assert hi1 <= lo2, ("overlapping sorted-file ranges", ranges)
    assert multi >= 1, "max-records-per-file should split >=1 bucket"


def test_point_lookup_prunes_and_matches_full_read(spark, stats_table):
    table, _ = stats_table
    snap = table.current_snapshot
    for conv in ("conv_7", "conv_33", "conv_hot"):
        b = bucket_of(spark, table, conv)
        bucket_files = snap.files.get(str(b), [])
        looked = point_lookup(spark, table, conv)
        opened = len(lookup_files(spark, table, conv))
        expect = (
            read_current(spark, table)
            .filter(f"conv_id = '{conv}'")
            .collect()
        )
        assert sorted(map(tuple, looked.collect())) == sorted(
            map(tuple, expect)
        ), conv
        assert expect, f"{conv} should exist in the generated stream"
        # pruning must beat bucket-only pruning whenever the bucket was
        # split into multiple range files
        if len(bucket_files) > 1:
            assert opened < len(bucket_files), (conv, opened, bucket_files)


def test_missing_key_opens_at_most_boundary_files(spark, stats_table):
    """A conv_id absent from the table prunes to the few files whose range
    could contain it — and returns zero rows."""
    table, _ = stats_table
    ghost = "conv_3a"  # sorts between conv_3 and conv_4, never generated
    looked = point_lookup(spark, table, ghost)
    assert looked.count() == 0
    b = bucket_of(spark, table, ghost)
    bucket_files = table.current_snapshot.files.get(str(b), [])
    if len(bucket_files) > 1:
        assert len(lookup_files(spark, table, ghost)) < len(bucket_files)


def test_scan_prune_is_only_an_optimization(spark, stats_table):
    """prune= may skip files but never changes the filtered result."""
    table, _ = stats_table
    full = (
        table.scan(spark)
        .filter("conv_id = 'conv_12'")
        .drop("_deleted", "_lsn")
    )
    pruned = (
        table.scan(spark, prune={"conv_id": ("conv_12", "conv_12")})
        .filter("conv_id = 'conv_12'")
        .drop("_deleted", "_lsn")
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_back_compat_snapshot_without_stats(spark, stats_table):
    """Old metadata (no file_stats key) loads and scans with prune= as a
    no-op — nothing is ever skipped without proof."""
    table, _ = stats_table
    d = table.current_snapshot.to_json()
    d.pop("file_stats", None)
    legacy = Snapshot.from_json(d)
    assert legacy.file_stats == {}
    # a stats-less table handle: prune must keep every file
    stripped = LakeTable.load(table.root)
    for s in stripped._meta["snapshots"]:
        s.pop("file_stats", None)
    n_all = len(stripped.scan(spark).inputFiles())
    n_pruned = len(
        stripped.scan(spark, prune={"conv_id": ("zzz", "zzz")}).inputFiles()
    )
    assert n_pruned == n_all


def test_stat_json_scalars():
    assert _stat_json("abc") == "abc"
    assert _stat_json(7) == 7
    assert _stat_json(None) is None
    assert _stat_json(True) is None  # bools have no useful range
    ts = datetime.datetime(2024, 1, 1, 0, 0, 1, 500)
    micros = _stat_json(ts)
    assert micros == 1_704_067_201_000_500
    utc = ts.replace(tzinfo=datetime.timezone.utc)
    assert _stat_json(utc) == micros  # tz-aware normalizes to UTC micros
    assert _stat_json(datetime.date(1970, 1, 11)) == 10
