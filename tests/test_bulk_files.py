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
import json
import logging
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark import SparkContext

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import physical_schema, read_current
from etl_documentos_spark.schemas import CHANGE_EVENTS, TRANSCRIPTS
from etl_documentos_spark.streaming.apply import CdcPipeline
from etl_documentos_spark.streaming.stream import (
    epoch_files,
    list_epochs,
    replay_bulk,
    replay_epochs,
)

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


def _pipeline(spark, root, num_buckets=8, quarantine=False) -> CdcPipeline:
    troot = str(root / "transcripts")
    LakeTable.create(troot, physical_schema(TRANSCRIPTS), num_buckets=num_buckets)
    return CdcPipeline(
        spark, troot, str(root / "work"), mode="mor", quarantine=quarantine
    )


def _records(pipe: CdcPipeline, epochs) -> dict:
    """Per epoch: (fingerprint, kind, source-partition offsets)."""
    out = {}
    for e in epochs:
        rec = pipe.commitlog.get(e)
        out[e] = (
            rec.input_fingerprint,
            rec.fingerprint_kind,
            rec.source_partition_offsets,
        )
    return out


def _lineage(spark, pipe: CdcPipeline) -> list:
    from etl_documentos_spark.streaming.lineage import read_lineage

    return sorted(
        tuple(r) for r in read_lineage(spark, pipe.lineage_path).collect()
    )


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


def _three_routes(spark, events_path, tmp_path, quarantine=False):
    """The same epochs through apply_epochs_bulk (DataFrame feeder, many
    epochs), apply_epochs_bulk_files (file feeder) and one apply_epoch per
    epoch (DataFrame feeder, epoch by epoch): ``[(pipeline, results)]``."""
    epochs = list_epochs(events_path)
    pipes = [
        _pipeline(spark, tmp_path / name, quarantine=quarantine)
        for name in ("A", "B", "C")
    ]
    changes = (
        spark.read.schema(BULK_SCHEMA)
        .option("basePath", events_path)
        .parquet(*[os.path.join(events_path, f"epoch={e}") for e in epochs])
    )
    res_a = pipes[0].apply_epochs_bulk(changes, epochs)
    res_b = pipes[1].apply_epochs_bulk_files(
        _pairs(events_path), schema=CHANGE_EVENTS
    )
    res_c = [
        pipes[2].apply_epoch(
            spark.read.schema(CHANGE_EVENTS).parquet(
                os.path.join(events_path, f"epoch={e}")
            ),
            e,
        )
        for e in epochs
    ]
    return list(zip(pipes, (res_a, res_b, res_c)))


def _bucket_rows(spark, pipe: CdcPipeline) -> dict:
    """Per bucket, the multiset of physical rows (tombstones included)."""
    t = pipe.table
    return {
        b: Counter(tuple(r) for r in t.scan(spark, buckets=[b]).collect())
        for b in t.live_buckets()
    }


def test_files_path_bit_equals_dataframe_path(
    spark, stream_df, events_path, tmp_path
):
    """The two feeders of the one change-batch kernel agree: identical
    commit records (fingerprints and offsets), identical lineage rows
    including the HyperLogLog conv_ids_touched, row-equal data in every
    bucket, identical physical parquet schemas and identical final state
    — the cross-path exactly-once guarantee."""
    epochs = list_epochs(events_path)
    (pa_pipe, res_a), (pb_pipe, res_b), (pc_pipe, res_c) = _three_routes(
        spark, events_path, tmp_path
    )

    assert (
        sum(r.events for r in res_a)
        == sum(r.events for r in res_b)
        == sum(r.events for r in res_c)
        == stream_df.count()
    )
    records = _records(pb_pipe, epochs)
    assert _records(pa_pipe, epochs) == records
    assert _records(pc_pipe, epochs) == records
    lineage = _lineage(spark, pb_pipe)
    assert len(lineage) == stream_df.select(
        "epoch", "source_partition"
    ).distinct().count()
    assert _lineage(spark, pa_pipe) == lineage
    assert _lineage(spark, pc_pipe) == lineage
    rows = _bucket_rows(spark, pb_pipe)
    assert sum(sum(c.values()) for c in rows.values()) == stream_df.count()
    assert _bucket_rows(spark, pa_pipe) == rows
    assert _bucket_rows(spark, pc_pipe) == rows

    b = read_current(spark, pb_pipe.table)
    for other in (pa_pipe, pc_pipe):
        a = read_current(spark, other.table)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    fa = glob.glob(os.path.join(str(tmp_path / "A"), "transcripts", "data", "w-*", "*.parquet"))[0]
    fb = glob.glob(os.path.join(str(tmp_path / "B"), "transcripts", "data", "w-*", "*.parquet"))[0]
    assert pq.read_schema(fa) == pq.read_schema(fb)


def _poison(stream_df):
    """``stream_df`` with invalid rows of every quarantine reason."""
    return (
        stream_df.withColumn(
            "op",
            F.when(F.col("lsn") % 97 == 0, "noop").otherwise(F.col("op")),
        )
        .withColumn(
            "conv_id",
            F.when(F.col("lsn") % 89 == 3, None).otherwise(F.col("conv_id")),
        )
        .withColumn(
            "ts", F.when(F.col("lsn") % 83 == 7, None).otherwise(F.col("ts"))
        )
        .withColumn(
            "lsn", F.when(F.col("lsn") % 79 == 5, None).otherwise(F.col("lsn"))
        )
    )


def test_files_path_bit_equals_dataframe_path_quarantine(
    spark, stream_df, tmp_path
):
    """Quarantine pipelines on the three routes: the same rows divert to
    the DLQ with the same reasons, the same ``quarantined`` counts per
    epoch, and the same commit records and bucket data for the rest."""
    poisoned = _poison(stream_df)
    events = str(tmp_path / "poisoned")
    datagen.write_epochs(poisoned, events, files_per_epoch=4)
    epochs = list_epochs(events)
    routes = _three_routes(spark, events, tmp_path, quarantine=True)

    per_epoch = {
        r["epoch"]: r["count"]
        for r in poisoned.filter(
            ~F.col("op").isin("insert", "update", "delete")
            | F.col("conv_id").isNull()
            | F.col("ts").isNull()
            | F.col("lsn").isNull()
        )
        .groupBy("epoch")
        .count()
        .collect()
    }
    assert sum(per_epoch.values()) > 0

    def dlq_rows(pipe):
        return sorted(
            repr(sorted(r.asDict().items())) for r in pipe.read_dlq().collect()
        )

    (pb_pipe, res_b) = routes[1]
    assert {r.epoch_id: r.quarantined for r in res_b} == {
        e: per_epoch.get(e, 0) for e in epochs
    }
    dlq = dlq_rows(pb_pipe)
    assert len(dlq) == sum(per_epoch.values())
    records = _records(pb_pipe, epochs)
    rows = _bucket_rows(spark, pb_pipe)
    for pipe, res in (routes[0], routes[2]):
        assert [(r.epoch_id, r.quarantined) for r in res] == [
            (r.epoch_id, r.quarantined) for r in res_b
        ]
        assert dlq_rows(pipe) == dlq
        assert _records(pipe, epochs) == records
        assert _bucket_rows(spark, pipe) == rows


@pytest.mark.parametrize("route", ["apply_epoch", "replay_bulk"])
def test_empty_stagings_leave_no_data_dirs(spark, tmp_path, route):
    """Three epochs without rows commit without leaving an empty
    ``data/w-*`` staging directory behind: the writer creates it with the
    first data file."""
    pipe = _pipeline(spark, tmp_path)
    if route == "apply_epoch":
        for e in range(3):
            pipe.apply_epoch(spark.createDataFrame([], CHANGE_EVENTS), e)
    else:
        from pyspark.sql.pandas.types import to_arrow_schema

        events = str(tmp_path / "events")
        for e in range(3):
            os.makedirs(os.path.join(events, f"epoch={e}"))
            pq.write_table(
                to_arrow_schema(CHANGE_EVENTS).empty_table(),
                os.path.join(events, f"epoch={e}", "part-0.parquet"),
            )
        replay_bulk(pipe, events)
    assert all(pipe.commitlog.is_committed(e) for e in range(3))
    assert glob.glob(os.path.join(pipe.table_root, "data", "w-*")) == []


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
    pipe.apply_epochs_bulk(changes, [epochs[0]])

    res = pipe.apply_epochs_bulk_files(_pairs(events_path), schema=CHANGE_EVENTS)
    by_epoch = {r.epoch_id: r for r in res}
    assert by_epoch[epochs[0]].skipped
    assert all(not by_epoch[e].skipped for e in epochs[1:])
    _assert_oracle_state(spark, pipe, stream_df)


@pytest.mark.parametrize(
    "route, writer",
    [
        ("files", "write_change_files_direct"),
        ("apply_epoch", "write_data_files_direct"),
    ],
    ids=["files", "apply_epoch"],
)
def test_files_path_restages_once_on_spec_conflict(
    spark, stream_df, events_path, tmp_path, monkeypatch, route, writer
):
    """A commit that lost a race with a split/rebucket (SpecConflictError)
    restages the files under the fresh spec once, then commits: every
    epoch lands exactly once and the state equals the oracle — on the file
    route (one call for all epochs) and on apply_epoch (one per epoch)."""
    from etl_documentos_spark.lake.table import SpecConflictError

    calls = {"commit": 0, "write": 0}
    real_commit = LakeTable.commit_append
    real_write = getattr(LakeTable, writer)

    def commit_conflicting_once(self, *a, **kw):
        calls["commit"] += 1
        if calls["commit"] == 1:
            raise SpecConflictError("injected: bucket spec changed")
        return real_commit(self, *a, **kw)

    def counting_write(self, *a, **kw):
        calls["write"] += 1
        return real_write(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_append", commit_conflicting_once)
    monkeypatch.setattr(LakeTable, writer, counting_write)
    pipe = _pipeline(spark, tmp_path)
    epochs = list_epochs(events_path)
    if route == "files":
        res = pipe.apply_epochs_bulk_files(
            _pairs(events_path), schema=CHANGE_EVENTS
        )
        stagings = 1
    else:
        res = [
            pipe.apply_epoch(
                spark.read.parquet(os.path.join(events_path, f"epoch={e}")), e
            )
            for e in epochs
        ]
        stagings = len(epochs)
    # one restage on top of one staging per call
    assert calls == {"commit": stagings + 1, "write": stagings + 1}
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

    # the same empty epoch through apply_epoch leaves the same records:
    # commit record, one zero-event metrics row, a lineage file
    from etl_documentos_spark.streaming.lineage import read_metrics

    pipe_df = CdcPipeline(spark, root, str(tmp_path / "w_df"))
    res = pipe_df.apply_epoch(spark.createDataFrame([], CHANGE_EVENTS), 9)
    assert res.events == 0 and not res.skipped
    for p in (pipe, pipe_df):
        rec = p.commitlog.get(9)
        assert (rec.input_fingerprint, rec.source_partition_offsets) == (
            "0:0:0:0", {}
        )
        assert os.path.exists(
            os.path.join(p.lineage_path, "lineage-epoch-9.parquet")
        )
        met = read_metrics(spark, p.metrics_path).filter("epoch_id = 9")
        assert [r.events_per_sec for r in met.collect()] == [0.0]


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


@pytest.mark.parametrize("driver", [replay_bulk, replay_epochs])
def test_files_path_int_bucket_key(spark, stream_df, events_path, tmp_path, driver):
    """On a table bucketed on an int column the file route hashes the key
    by its type: rows land where ``bucket_expr`` puts them, the state
    equals the oracle, and the lineage sketch still counts conversations
    (xxhash64 of conv_id), not bucket keys."""
    from etl_documentos_spark.streaming.lineage import read_lineage

    troot = str(tmp_path / "transcripts")
    LakeTable.create(
        troot, physical_schema(TRANSCRIPTS), num_buckets=8, bucket_col="turn_idx"
    )
    pipe = CdcPipeline(spark, troot, str(tmp_path / "work"), mode="mor")
    res = driver(pipe, events_path)
    assert sum(r.events for r in res) == stream_df.count()
    _assert_oracle_state(spark, pipe, stream_df)

    t = pipe.table
    for b in t.live_buckets():
        assert t.scan(spark, buckets=[b]).filter(t.bucket_expr() != b).count() == 0

    got = {
        (r.epoch_id, r.source_partition): r.conv_ids_touched
        for r in read_lineage(spark, pipe.lineage_path).collect()
    }
    want = {
        (r.epoch, r.source_partition): r.n
        for r in stream_df.groupBy("epoch", "source_partition")
        .agg(F.countDistinct("conv_id").alias("n"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k, n in want.items():
        assert abs(got[k] - n) <= max(2, 0.05 * n), k


def _content_fingerprint(spark, path: str) -> str:
    """The fingerprint records held before positions were hashed: chunked
    sums of xxhash64 over every change column, then the count."""
    df = spark.read.parquet(path)
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    r = df.agg(
        F.sum(h.bitwiseAND(F.lit(0x3FFFFF))),
        F.sum(F.shiftrightunsigned(h, 22).bitwiseAND(F.lit(0x3FFFFF))),
        F.sum(F.shiftrightunsigned(h, 44)),
        F.count("*"),
    ).first()
    return ":".join(str(int(v)) for v in r)


def test_resume_from_content_fingerprint_records(
    spark, stream_df, events_path, tmp_path
):
    """A workdir whose commit records predate ``fingerprint_kind`` (content
    fingerprints, no field) resumes: its epochs read back as "content" and
    skip, the rest apply with position records, ``compact_log`` folds both
    kinds, and the final state equals the oracle."""
    epochs = list_epochs(events_path)
    done, rest = epochs[:2], epochs[2:]
    pipe = _pipeline(spark, tmp_path)
    replay_bulk(pipe, events_path, epochs=done)
    log_dir = pipe.commitlog.root
    for e in done:
        rec = pipe.commitlog.get(e)
        old = {
            "epoch_id": e,
            "input_fingerprint": _content_fingerprint(
                spark, os.path.join(events_path, f"epoch={e}")
            ),
            "source_partition_offsets": rec.source_partition_offsets,
            "committed_at": rec.committed_at,
        }
        with open(os.path.join(log_dir, f"commit-{e:012d}.json"), "w") as f:
            json.dump(old, f)

    pipe = CdcPipeline(spark, pipe.table_root, str(tmp_path / "work"), mode="mor")
    assert {pipe.commitlog.get(e).fingerprint_kind for e in done} == {"content"}
    res = replay_epochs(pipe, events_path)
    assert [r.epoch_id for r in res if r.skipped] == done
    assert [r.epoch_id for r in res if not r.skipped] == rest
    assert {pipe.commitlog.get(e).fingerprint_kind for e in rest} == {"position"}

    offsets = pipe.commitlog.max_offsets()
    assert pipe.commitlog.compact_log(keep_last=0) == len(epochs)
    assert all(pipe.commitlog.is_committed(e) for e in epochs)
    assert pipe.commitlog.max_offsets() == offsets
    assert all(r.skipped for r in replay_bulk(pipe, events_path))
    _assert_oracle_state(spark, pipe, stream_df)


def _reference_fold(sketches: dict, ch, keys) -> None:
    """Per-key HyperLogLog fold, rho by a bit-by-bit scan of the suffix."""
    import numpy as np

    from etl_documentos_spark.lake.table import HLL_M, HLL_P

    width = 64 - HLL_P
    for h, k in zip(np.asarray(ch, np.int64).view(np.uint64).tolist(), keys.tolist()):
        suffix = h & ((1 << width) - 1)
        rho = width + 1 - suffix.bit_length() if suffix else width + 1
        reg = sketches.setdefault(k, np.zeros(HLL_M, np.uint8))
        reg[h >> width] = max(reg[h >> width], rho)


@pytest.mark.parametrize("n_epochs", [1, 3])
def test_fold_hll_matches_per_key_reference(n_epochs):
    """The writer's one-scatter HLL fold yields the registers of a per-key
    reference fold, over batches spanning one or several epochs."""
    import numpy as np
    import pyarrow as pa

    from etl_documentos_spark.functions.xxh64 import xxh64_strings
    from etl_documentos_spark.lake.table import fold_hll

    rng = np.random.default_rng(n_epochs)
    got, want = {}, {}
    for _ in range(3):
        n = 5_000
        ch = xxh64_strings(pa.array([f"c{i}" for i in rng.integers(0, 2_000, n)]))
        ch[:4] = [0, -1, 1, -(2**63)]
        keys = (rng.integers(0, n_epochs, n).astype(np.int64) << 20) | rng.integers(0, 8, n)
        fold_hll(got, ch, keys)
        _reference_fold(want, ch, keys)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k].tolist() == want[k].tolist(), k


# --- the file writer's two routes -------------------------------------------

OPEN_COST = "spark.sql.files.openCostInBytes"


@pytest.fixture
def open_cost(spark):
    """Set ``spark.sql.files.openCostInBytes`` inside a test: the cut-off
    between the file writer's driver and Spark-task routes. ``"0"`` forces
    the task route for any input. The session's value returns at
    teardown."""
    before = spark.conf.get(OPEN_COST)
    yield lambda v: spark.conf.set(OPEN_COST, v)
    spark.conf.set(OPEN_COST, before)


@pytest.fixture(scope="module")
def poisoned_path(stream_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("poisoned") / "stream")
    datagen.write_epochs(_poison(stream_df), p, files_per_epoch=4)
    return p


def _write_lines(caplog) -> list[dict]:
    """The file writer's log lines, as ``{field: value}``."""
    return [
        dict(kv.split("=", 1) for kv in m.split()[1:])
        for m in caplog.messages
        if m.startswith("write route=")
    ]


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


@pytest.mark.parametrize("variant", ["plain", "fence", "int_key", "quarantine"])
def test_file_writer_routes_agree(
    spark, stream_df, events_path, poisoned_path, tmp_path, open_cost,
    monkeypatch, caplog, variant,
):
    """The same epochs staged in the driver and as Spark tasks give the same
    files per bucket, the same stats rows (fingerprint chunks, counts,
    offsets, HLL registers), the same commit records, the same DLQ and the
    same ``read_current`` — with the bootstrap fence, on an int bucket key
    and with quarantine on."""
    events = poisoned_path if variant == "quarantine" else events_path
    epochs = list_epochs(events)
    staged = []
    real_write = LakeTable.write_change_files_direct

    def recording(self, *a, **kw):
        staged.append(real_write(self, *a, **kw))
        return staged[-1]

    monkeypatch.setattr(LakeTable, "write_change_files_direct", recording)
    caplog.set_level(logging.INFO, logger="etl_documentos_spark")

    def run(name):
        troot = str(tmp_path / name / "transcripts")
        LakeTable.create(
            troot, physical_schema(TRANSCRIPTS), num_buckets=8,
            bucket_col="turn_idx" if variant == "int_key" else "conv_id",
        )
        pipe = CdcPipeline(
            spark, troot, str(tmp_path / name / "work"), mode="mor",
            quarantine=variant == "quarantine",
        )
        if variant == "fence":
            wm = int(
                stream_df.agg(F.expr("percentile_approx(lsn, 0.5)")).first()[0]
            )
            pipe.table.set_property("bootstrap.watermark-lsn", str(wm))
            pipe._bootstrap_wm = "unloaded"  # force re-read of the property
        res = pipe.apply_epochs_bulk_files(_pairs(events), schema=CHANGE_EVENTS)
        files, stat_rows, _ = staged[-1]
        dlq = {
            e: sorted(os.listdir(os.path.join(pipe.dlq_path, f"epoch={e}")))
            for e in epochs
            if os.path.isdir(os.path.join(pipe.dlq_path, f"epoch={e}"))
        }
        return {
            "results": [(r.epoch_id, r.events, r.quarantined) for r in res],
            "files_per_bucket": {b: len(fs) for b, fs in files.items()},
            "stat_rows": sorted(repr(sorted(r.items())) for r in stat_rows),
            "records": _records(pipe, epochs),
            "dlq_files": dlq,
            "dlq": sorted(
                repr(sorted(r.asDict().items())) for r in pipe.read_dlq().collect()
            ) if pipe.quarantine else None,
            "current": sorted(
                tuple(r) for r in read_current(spark, pipe.table).collect()
            ),
        }

    driver = run("driver")
    open_cost("0")
    tasks = run("tasks")
    assert [w["route"] for w in _write_lines(caplog)] == ["driver", "tasks"]
    assert driver["files_per_bucket"]
    assert any("('kind', 'l')" in r for r in driver["stat_rows"])  # HLL
    if variant == "quarantine":
        assert sum(q for _, _, q in driver["results"]) > 0
        assert all(len(fs) >= 2 for fs in driver["dlq_files"].values())
    for key in driver:
        assert driver[key] == tasks[key], key


def test_file_writer_route_follows_open_cost(
    spark, stream_df, events_path, tmp_path, open_cost, monkeypatch, caplog
):
    """The route is picked by the input's bytes against
    ``spark.sql.files.openCostInBytes``, read as bytes: at most the
    setting (a plain number or a unit string), the writer starts no Spark
    job; one byte over, it starts one, described by its epoch span and
    phase. Each call logs one line with its route and sizes."""
    pairs = _pairs(events_path)
    in_bytes = sum(os.path.getsize(f) for f, _ in pairs)
    lo, hi = min(e for _, e in pairs), max(e for _, e in pairs)
    descriptions = []
    real_describe = SparkContext.setJobDescription
    monkeypatch.setattr(
        SparkContext,
        "setJobDescription",
        lambda self, v: descriptions.append(v) or real_describe(self, v),
    )
    caplog.set_level(logging.INFO, logger="etl_documentos_spark")
    jobs = []
    for i, cost in enumerate((str(in_bytes), "1MB", str(in_bytes - 1))):
        open_cost(cost)
        t = LakeTable.create(
            str(tmp_path / f"t{i}"), physical_schema(TRANSCRIPTS), num_buckets=4
        )
        before = _last_job_id(spark)
        files, _, _ = t.write_change_files_direct(spark, pairs, target_tasks=3)
        jobs.append(_last_job_id(spark) - before)
        assert sum(len(fs) for fs in files.values()) > 0
    assert in_bytes < 1 << 20
    assert jobs == [0, 0, 1]
    lines = _write_lines(caplog)
    assert [w["route"] for w in lines] == ["driver", "driver", "tasks"]
    for w in lines:
        assert w["epochs"] == f"{lo}..{hi}"
        assert w["files"] == str(len(pairs))
        assert w["chunks"] == "3"
        assert w["bytes"] == str(in_bytes)
        assert int(w["rows"]) == stream_df.count()
        assert float(w["ms"]) > 0
    assert descriptions == [f"epoch={lo}..{hi} phase=write", None]
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_driver_route_keeps_every_chunks_dlq_rows(
    spark, stream_df, poisoned_path, tmp_path, caplog
):
    """One small epoch of several files, each holding invalid rows, staged
    in the driver: each chunk writes its own DLQ file, so every
    quarantined row lands in ``dlq/epoch=N`` and the count equals
    ``EpochResult.quarantined``."""
    e = list_epochs(poisoned_path)[0]
    pairs = [(f, ep) for f, ep in _pairs(poisoned_path) if ep == e]
    assert len(pairs) >= 2
    for f, _ in pairs:
        tbl = pq.read_table(f)
        assert tbl.num_rows > tbl.drop_null().num_rows, f  # invalid rows
    want = sum(
        pq.read_table(f).num_rows for f, _ in pairs
    ) - (
        _poison(stream_df).filter(F.col("epoch") == e)
        .filter(
            F.col("op").isin("insert", "update", "delete")
            & F.col("conv_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("lsn").isNotNull()
        ).count()
    )
    caplog.set_level(logging.INFO, logger="etl_documentos_spark")
    pipe = _pipeline(spark, tmp_path, quarantine=True)
    (res,) = pipe.apply_epochs_bulk_files(pairs, schema=CHANGE_EVENTS)
    assert [w["route"] for w in _write_lines(caplog)] == ["driver"]
    assert want > 0 and res.quarantined == want
    d = os.path.join(pipe.dlq_path, f"epoch={e}")
    assert len(os.listdir(d)) == len(pairs)
    assert pipe.read_dlq([e]).count() == want
