"""Regression pins for the lake-layer review findings: rename-aware
file reads in rewrite/CDC paths, protected CDC contract columns,
manifest-ref carry on discard, threaded CAS commits, and CTAS respect
for caller-owned temp views."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import (
    merge_mor,
    physical_schema,
    read_current,
)
from etl_documentos_spark.schemas import TRANSCRIPTS


def _batch(spark, batch, n_convs=8, turns=4):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (
            "insert",
            f"conv_{c}",
            t,
            "user",
            f"b{batch} c{c} t{t}",
            None,
            t0 + datetime.timedelta(seconds=batch),
            batch * 1000 + c * 10 + t,
            0,
        )
        for c in range(n_convs)
        for t in range(turns)
    ]
    return spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp, lsn long, source_partition int",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), physical_schema(TRANSCRIPTS), num_buckets=2
    )
    merge_mor(spark, t, _batch(spark, 0), target_tasks=1)
    t._refresh()
    return t


def test_split_bucket_preserves_renamed_column(spark, table):
    """split_bucket REWRITES files: after a metadata-only rename, the
    rewrite must fold the historical physical name back — a bare
    schema read would rewrite the column as NULL and drop the old
    files, losing the data forever."""
    before = {
        (r.conv_id, r.turn_idx): r.text
        for r in read_current(spark, table).collect()
    }
    assert all(v is not None for v in before.values())
    table.rename_column("text", "body")
    table.split_bucket(spark, 0)
    after = {
        (r.conv_id, r.turn_idx): r.body
        for r in read_current(spark, table).collect()
    }
    assert after == before, "split after rename must preserve values"


def test_table_changes_preserves_renamed_column(spark, table):
    """CDC-out over pre-rename snapshots must emit the renamed column's
    values (the added files physically hold the historical name)."""
    from etl_documentos_spark.lake.changelog import read_changes

    first = table.snapshots[0].snapshot_id
    table.rename_column("text", "body")
    rows = read_changes(spark, table, from_snapshot_id=first).collect()
    assert rows
    assert all(r["body"] is not None for r in rows)


def test_cdc_contract_columns_are_protected(table):
    """ts (LWW order) and turn_idx (merge key) rename/drop must refuse:
    a metadata-only commit would brick every subsequent merge."""
    with pytest.raises(ValueError):
        table.rename_column("ts", "event_time")
    with pytest.raises(ValueError):
        table.drop_columns(["turn_idx"])
    with pytest.raises(ValueError):
        table.rename_column("turn_idx", "idx")


def test_discard_staged_carries_manifest_refs(spark, table):
    """discard_staged must not strip the kept snapshots' manifest refs —
    losing them forces the next commit to re-shard the whole live
    manifest set (O(live files) JSON instead of O(delta))."""
    table.create_branch("wip")
    merge_mor(spark, table, _batch(spark, 1), target_tasks=1, branch="wip")
    table._refresh()
    staged_id = table.resolve_ref("wip")
    table.drop_branch("wip")
    n_man_before = len(
        [p for p in os.listdir(os.path.join(table.root, "metadata"))
         if p.startswith("man-")]
    )
    table.discard_staged(staged_id)
    # all kept snapshot dicts still carry refs: nothing re-sharded
    missing = [
        s["snapshot_id"]
        for s in table._meta["snapshots"]
        if s.get("manifests") is None
    ]
    assert missing == [], f"snapshots lost manifest refs: {missing}"
    # and the table still reads
    assert read_current(spark, table).count() > 0
    assert n_man_before >= 0  # smoke: metadata dir enumerable


def test_threaded_cas_commits_both_land(spark, tmp_path):
    """Two THREADS of one process committing concurrently in CAS mode:
    both appends must be durable (the old pid-only staging name let one
    thread publish the other's metadata and claim success)."""
    import threading

    t = LakeTable.create(
        str(tmp_path / "c"),
        physical_schema(TRANSCRIPTS),
        num_buckets=2,
        properties={"commit.mode": "cas"},
    )
    merge_mor(spark, t, _batch(spark, 0), target_tasks=1)
    t._refresh()

    errs: list[Exception] = []

    def committer(b):
        try:
            handle = LakeTable.load(t.root)
            # distinct conv ids per thread: LWW must not shadow the proof
            batch = _batch(spark, b).withColumn(
                "conv_id", F.concat(F.lit(f"t{b}_"), F.col("conv_id"))
            )
            merge_mor(spark, handle, batch, target_tasks=1)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=committer, args=(b,)) for b in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    t._refresh()
    got = read_current(spark, t)
    prefixes = {
        r.conv_id.split("_")[0]
        for r in got.select("conv_id").distinct().collect()
    }
    # both threads' commits AND the base batch are durable
    assert prefixes == {"conv", "t1", "t2"}, prefixes


def test_ctas_refuses_to_clobber_caller_view(spark, tmp_path):
    """A caller's session temp view colliding with a catalog table name
    must survive a CTAS untouched (previously it was replaced and then
    dropped); the catalog's own snapshot views remain replaceable."""
    from etl_documentos_spark.lake.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.sql(
        spark,
        "CREATE TABLE raw.notes (conv_id string, turn_idx int,"
        " role string, text string, ts timestamp)",
    )
    # caller's own view under the colliding folded name
    spark.sql("SELECT 'mine' AS tag").createOrReplaceTempView("raw_notes")
    with pytest.raises(ValueError, match="shadows"):
        cat.sql(
            spark,
            "CREATE TABLE derived.out AS SELECT conv_id, turn_idx,"
            " 'user' AS role, text, ts FROM raw_notes",
        )
    # the caller's view is still there, still theirs
    assert spark.sql("SELECT tag FROM raw_notes").first().tag == "mine"
    spark.catalog.dropTempView("raw_notes")
    # with the collision gone, CTAS works and manages its own views
    out = cat.sql(
        spark,
        "CREATE TABLE derived.out AS SELECT conv_id, turn_idx,"
        " role, text, ts FROM raw_notes",
    ).collect()
    assert out[0]["created"] is True


def test_ctas_forgets_the_views_it_dropped(spark, tmp_path):
    """A name the catalog once registered and a CTAS then dropped is the
    caller's again: the caller's own temp view of it survives a later
    CTAS, which refuses the shadowing instead of replacing the view."""
    from etl_documentos_spark.lake.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.sql(
        spark,
        "CREATE TABLE raw.notes (conv_id string, turn_idx int,"
        " role string, text string, ts timestamp)",
    )
    cat.sql(spark, "SELECT count(*) AS n FROM raw_notes").collect()
    cat.sql(
        spark,
        "CREATE TABLE derived.a AS SELECT conv_id, turn_idx, role, text,"
        " ts FROM raw_notes",
    ).collect()
    spark.sql("SELECT 'mine' AS tag").createOrReplaceTempView("raw_notes")
    try:
        with pytest.raises(ValueError, match="shadows"):
            cat.sql(
                spark,
                "CREATE TABLE derived.b AS SELECT conv_id, turn_idx,"
                " role, text, ts FROM derived_a",
            )
        assert spark.sql("SELECT tag FROM raw_notes").first().tag == "mine"
    finally:
        spark.catalog.dropTempView("raw_notes")
