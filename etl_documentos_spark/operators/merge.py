"""Key-partitioned MERGE of a change batch into a LakeTable.

This is the engine's core write primitive — the set-oriented restatement of
the reference's row lifecycle: INSERT with a provisional status
(``/root/reference/app/services/document_processor.py:126-143``), UPDATE the
same key with final values (``document_processor.py:205-218``,
``app/database/repositories.py:51-68``), DELETE by key
(``repositories.py:70-83``). On Iceberg this is ``MERGE INTO target USING
updates ON key WHEN MATCHED ... WHEN NOT MATCHED INSERT``; here the table
is the materialization of its changelog, so a MERGE is "stage the changes,
then reduce the touched keys" (`merge_into`):

1. stage: the batch runs through the change-batch kernel (`_stage`, the
   writer the CDC pipeline appends with) into an uncommitted ``data/w-*``
   directory; the staged files name the buckets the batch touches
   (partition pruning — a batch touching 1% of conversations reads 1% of
   the table);
2. reduce: per touched bucket, the snapshot's files plus the staged ones
   are reduced per key with the LWW version order ``(ts, _lsn)``
   (`_reduce_commit`, the step `compact` runs) — this makes the merge
   **version-checked**: a late event (older ts) arriving in a later epoch
   cannot regress a newer row, and re-applying an epoch is a no-op
   (idempotent under at-least-once delivery);
3. tombstones: deletes persist as ``_deleted=true`` rows so that a
   late-arriving older update cannot resurrect a deleted key; readers filter
   them out (``read_current``); a compaction can expire them past the
   lateness watermark;
4. copy-on-write: the reduced files replace only the touched buckets in
   one atomic (logical, not maintenance) overwrite snapshot, and the
   staging directory is removed.

Shuffle budget at scale: a reduction of at most `ARROW_COMPACT_MAX_BYTES`
runs in the driver on Arrow with no shuffle; a larger one is one hash
aggregation over (touched buckets + batch) and a range-partitioned sorted
write. There is no global sort anywhere.
"""

from __future__ import annotations

import logging
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark.lake.table import (
    LakeTable,
    SpecConflictError,
    _arrow_type,
    _stage_rel,
    lpt_pack,
)
from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.schemas import KEY_COLS

#: engine-managed columns stored in the physical table, invisible to readers
SYSTEM_COLS = [
    T.StructField("_deleted", T.BooleanType(), True),
    T.StructField("_lsn", T.LongType(), True),
]
SYSTEM_COL_NAMES = [f.name for f in SYSTEM_COLS]

_log = logging.getLogger("etl_documentos_spark")


def physical_schema(logical: T.StructType) -> T.StructType:
    return T.StructType(list(logical.fields) + list(SYSTEM_COLS))


def _lww(df: DataFrame) -> DataFrame:
    """`lww_dedup` of physical rows: per key, the greatest (ts, _lsn)."""
    return lww_dedup(df, key_cols=KEY_COLS, order_cols=("ts", "_lsn"))


def _live(df: DataFrame) -> DataFrame:
    """Reduced physical rows → the reader's rows: tombstones filtered out,
    system columns dropped."""
    live = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return live.drop(*SYSTEM_COL_NAMES)


def changes_to_physical(changes: DataFrame, table_schema: T.StructType) -> DataFrame:
    """Project a change batch (op/.../lsn) onto the physical table shape."""
    cols = []
    change_cols = set(changes.columns)
    for f in table_schema.fields:
        if f.name == "_deleted":
            cols.append((F.col("op") == "delete").alias("_deleted"))
        elif f.name == "_lsn":
            cols.append(F.col("lsn").alias("_lsn"))
        elif f.name in change_cols:
            cols.append(F.col(f.name).cast(f.dataType))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return changes.select(*cols)


def _stage(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    target_tasks: int | None = None,
):
    """Stage a change batch as bucket files of ``table``, uncommitted.
    Returns ``(files, manifest_stats)``.

    When every column has an Arrow type (`_arrow_fields`) the batch goes
    through the change-batch kernel's DataFrame feeder
    (`LakeTable.write_data_files_direct`, epoch 0; the kernel's stats
    group by ``source_partition``, which DML and replication batches lack
    and a parsed envelope may leave NULL: both read as 0). Other tables
    take the shuffled writer over `changes_to_physical`."""
    if _arrow_fields(spark, table) is None:
        files = table.write_data_files(changes_to_physical(changes, table.schema))
        return files, None
    cols = changes.columns
    sp = F.col("source_partition") if "source_partition" in cols else F.lit(None)
    changes = changes.withColumn("source_partition", F.coalesce(sp, F.lit(0)))
    files, _, manifest = table.write_data_files_direct(
        changes, epoch=0, target_tasks=target_tasks
    )
    return files, manifest


def merge_into(spark: SparkSession, table: LakeTable, changes: DataFrame) -> None:
    """Apply one change batch to the table as a copy-on-write merge. See
    the module docstring for the plan.

    ``changes`` carries the CHANGE_EVENTS shape (op, key, payload, ts, lsn,
    ...). Column set may be wider than the table — caller runs schema
    evolution first (`operators.evolve.evolve_if_needed`).

    The batch is NOT pre-deduped: batch-internal LWW and the version check
    against existing rows are the same reduction, so one LWW over
    (touched buckets ∪ staged batch) does both. The touched buckets come
    out reduced, like a compaction's (`Snapshot.reduced_buckets`), but the
    commit is a logical overwrite that changelog readers refuse.

    Split-safe: staging and reduction are retried against fresh metadata
    if a concurrent ``split_bucket``/``rebucket`` invalidates the bucket
    keys mid-merge (``SpecConflictError`` from the commit).
    """
    for _ in range(5):
        t0 = time.perf_counter()
        spec = table.spec_fingerprint()
        staged, _ = _stage(spark, table, changes)
        try:
            if staged:
                _reduce_commit(
                    spark, table, "merge", sorted(int(b) for b in staged),
                    staged, spec, t0,
                )
            return
        except SpecConflictError:
            table._refresh()
        finally:  # the staging is never committed
            dirs = {p.split("/")[1] for fs in staged.values() for p in fs}
            for d in dirs:
                shutil.rmtree(os.path.join(table.root, "data", d), ignore_errors=True)
    raise SpecConflictError("spec kept changing across 5 merge retries")


def adaptive_salts(
    table: LakeTable,
    buckets: list[int],
    spark: SparkSession,
    floor: int = 2,
    cap: int = 32,
    target_file_bytes: int | None = None,
) -> int:
    """Salt count of the Spark reduce-and-commit rewrite (`_spark_rewrite`,
    for `compact` and `merge_into`), sized from the table's OBSERVED bucket
    skew — no manual tuning, no extra Spark job (reads the file manifest
    via `LakeTable.bucket_sizes`, so a merge's staged batch is not
    counted).

    Rationale (same math as ``_write_data``'s docstring): a bucket holding
    fraction ``h`` of the rewrite is processed by one task per salt, so for
    the rewrite to keep P cores busy the hot bucket must split into
    ``>= h * P`` salted tasks. Uniform tables get the floor (bounds file
    count); a 30%-hot bucket on a 32-core cluster gets ~10 salts. This is
    the write-side complement of `operators.skew.detect_hot_keys` (which
    measures row-level key skew before any files exist); here the snapshot
    manifest already encodes the skew for free.

    ``target_file_bytes``: additionally cap the salt count by how many
    files the data actually warrants — ``ceil(hot_bucket_bytes / target)``
    — so a rewrite of a small bucket collapses it to ONE file instead of
    fragmenting it into ``h*P`` shards, while a multi-GB bucket keeps its
    parallel spread. Same semantic as Iceberg's ``rewrite_data_files``
    target-file-size-bytes.
    """
    import math

    sizes = table.bucket_sizes(buckets)
    total = sum(sizes.values())
    if total <= 0:
        return floor if target_file_bytes is None else 1
    hot = max(sizes.values())
    h = hot / total
    p = spark.sparkContext.defaultParallelism
    salts = max(floor, min(cap, math.ceil(h * p)))
    if target_file_bytes is not None:
        salts = max(1, min(salts, math.ceil(hot / target_file_bytes)))
    return salts


def merge_mor(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    target_tasks: int | None = None,
    branch: str | None = None,
) -> None:
    """Merge-on-read apply: append the batch as delta files, defer the LWW
    reduction to read time (`read_current`) / compaction (`compact`).

    This is the high-throughput CDC ingest path (the Hudi/Paimon MOR shape):
    per epoch the write cost is O(batch) — the batch staged by `_stage`
    (the change-batch kernel, or the shuffled writer for tables with a
    column Arrow does not map) and committed by `LakeTable.append_staged`
    — instead of copy-on-write's O(touched table slice). At 10^10 events
    the COW variant rewrites every hot bucket every epoch; MOR keeps ingest
    linear and bounds read amplification with `compact`. Manifest stats
    come from the write tasks when the table opted in, else from the new
    files' footers.

    ``target_tasks`` bounds the kernel's writer-task count (files/epoch =
    tasks x buckets-per-task); callers with small per-epoch batches pass a
    low value to bound delta-file churn between compactions, the bulk
    backfill leaves the default (~2x parallelism).

    ``branch``: land the delta files on a named branch (multi-commit
    WAP) — because MOR defers the LWW reduction to read time, a branch
    upsert is JUST an append on the branch head, and ``read_current(...,
    ref=branch)`` shows the merged state; ``fast_forward`` publishes.
    """

    def stage(t: LakeTable):
        files, manifest = _stage(spark, t, changes, target_tasks)
        return files, None, manifest or t._collect_stats(files)

    table.append_staged(stage, branch=branch)


def compact(
    spark: SparkSession,
    table: LakeTable,
    buckets: list[int] | None = None,
    expire_tombstones_before=None,
    target_file_bytes: int = 128 << 20,
    zorder: tuple[str, ...] | None = None,
) -> None:
    """Rewrite buckets with the LWW reduction applied (read-optimize).

    `merge_into` with an empty batch: both run `_reduce_commit`, so per
    key the row with the greatest ``(ts, _lsn, payload hash)`` survives;
    the rewrite is sorted by key and commits as one MAINTENANCE overwrite
    of the buckets (all live ones when ``buckets`` is None), which
    changelog readers skip. ``expire_tombstones_before``: optionally drop
    delete tombstones older than the lateness watermark (they exist only
    to fence late updates). The bound is EPOCH MICROSECONDS (int) and is
    compared against ``unix_micros(ts)`` — both sides live in the
    UTC-micros domain, so the comparison is independent of
    ``spark.sql.session.timeZone``; a tombstone with a NULL ``ts`` is
    dropped too.

    ``target_file_bytes``: output-file sizing. Target buckets totalling at
    most this (and at most `ARROW_COMPACT_MAX_BYTES`) are reduced in the
    driver by the Arrow kernel (`compact_bucket`), one file per bucket.
    Larger compactions, ``zorder=`` and tables with a column type Arrow
    does not map take the Spark rewrite, whose per-bucket salt count is
    capped at ``ceil(bucket_bytes / target)`` — compaction is a
    read-optimize pass, so it must REDUCE file counts on small buckets,
    not re-fragment them.

    Split-safe: retried whole against fresh metadata on ``SpecConflictError``
    (same contract as ``merge_into``).
    """
    for _ in range(5):
        try:
            return _reduce_commit(
                spark, table, "compact",
                table.live_buckets() if buckets is None else buckets,
                {}, table.spec_fingerprint(), time.perf_counter(),
                expire_tombstones_before, target_file_bytes, zorder,
            )
        except SpecConflictError:
            table._refresh()
            buckets = None  # old bucket ids are stale under the new spec
    raise SpecConflictError("spec kept changing across 5 compact retries")


#: the most parquet bytes one compaction reduces in the driver's memory,
#: the size the kernel's peak was measured at: one 129 MiB snappy bucket
#: of text-heavy rows (293k rows, ~1.4 KB of decoded text each, 3x its
#: file bytes) raised the driver's RSS high-water mark by 1.15 GB and took
#: 2.6 s. Larger compactions take the Spark rewrite, which can spill.
ARROW_COMPACT_MAX_BYTES = 128 << 20


def _reduce_commit(
    spark: SparkSession,
    table: LakeTable,
    op: str,
    target: list[int],
    staged: dict[str, list[str]],
    spec: tuple,
    t0: float,
    expire_tombstones_before=None,
    target_file_bytes: int = 128 << 20,
    zorder: tuple[str, ...] | None = None,
) -> None:
    """The reduce-and-commit step of `compact` (``op`` "compact") and
    `merge_into` (``op`` "merge"): per ``target`` bucket, the current
    snapshot's files plus the ``staged`` uncommitted files (by bucket) are
    reduced to one row per key and committed as ONE overwrite of the
    target buckets. A compaction's overwrite is marked maintenance; a
    merge's is a logical overwrite. ``spec``: the spec fingerprint the
    caller's bucket ids (and staging) were computed under.

    Routes: the Arrow kernel `compact_bucket`, run in the driver one
    bucket at a time (``driver``), when the inputs total at most
    ``target_file_bytes`` and `ARROW_COMPACT_MAX_BYTES` and every column
    has an Arrow type; else the Spark ``lww_dedup`` + range-partitioned
    sorted rewrite (`_spark_rewrite`, ``spark``), which ``zorder=``
    always takes. Logs one line ``<op> buckets=… route=…`` per call on the
    ``etl_documentos_spark`` logger."""
    # capture the exact file lists this rewrite reads: the commit replaces
    # only these, so an append landing concurrently (another process) in a
    # target bucket survives as a delta file instead of being dropped
    expected = {
        b: fs
        for b, fs in table.current_snapshot.files.items()
        if int(b) in target
    }
    inputs = {
        str(b): expected.get(str(b), []) + staged.get(str(b), [])
        for b in target
    }
    in_bytes = sum(table.bucket_sizes(target).values()) + sum(
        os.path.getsize(os.path.join(table.root, p))
        for fs in staged.values()
        for p in fs
    )
    fields = None if zorder else _arrow_fields(spark, table)
    if fields is not None and in_bytes <= min(
        target_file_bytes, ARROW_COMPACT_MAX_BYTES
    ):
        route = "driver"
        files, rows_in, rows_out = _arrow_rewrite(
            table, fields, inputs, expire_tombstones_before
        )
    else:
        route = "spark"
        files, rows_in, rows_out = _spark_rewrite(
            spark, table, target, inputs, expire_tombstones_before,
            target_file_bytes, zorder,
        )
    table.commit_overwrite(
        files,
        target,
        expected=expected,
        staged_spec=spec,
        new_stats=table._collect_stats(files),
        # a compaction is a logical no-op: changelog readers skip it
        maintenance=op == "compact",
    )
    _log.info(
        "%s buckets=%d route=%s files=%d->%d rows=%d->%d "
        "bytes=%d->%d ms=%.1f",
        op,
        len(target),
        route,
        sum(len(fs) for fs in inputs.values()),
        sum(len(fs) for fs in files.values()),
        rows_in,
        rows_out,
        in_bytes,
        sum(
            os.path.getsize(os.path.join(table.root, p))
            for fs in files.values()
            for p in fs
        ),
        (time.perf_counter() - t0) * 1e3,
    )


def _arrow_fields(spark: SparkSession, table: LakeTable):
    """The table schema as (name, Arrow type) pairs, or None when a column
    has no Arrow mapping (`_arrow_type`)."""
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    try:
        return [(f.name, _arrow_type(f.dataType, tz)) for f in table.schema.fields]
    except TypeError:
        return None


def _arrow_rewrite(
    table: LakeTable,
    fields: list,
    inputs: dict[str, list[str]],
    expire_tombstones_before,
):
    """The driver route: `compact_bucket` over each bucket's ``inputs``
    in turn, staged into one ``data/c-<uuid>`` dir (no commit). Returns
    ``(files, rows_in, rows_out)``."""
    rel = _stage_rel("c")
    expire = (
        None if expire_tombstones_before is None else int(expire_tombstones_before)
    )
    files, rows_in, rows_out = {}, 0, 0
    for b, fs in inputs.items():
        if not fs:
            continue
        names, n_in, n_out = compact_bucket(
            table, int(b), [os.path.join(table.root, p) for p in fs],
            os.path.join(table.root, rel), fields, expire,
        )
        if names:
            files[b] = [f"{rel}/{n}" for n in names]
        rows_in += n_in
        rows_out += n_out
    return files, rows_in, rows_out


def _footer_rows(root: str, rels: list[str]) -> int:
    """Row count of data files from their parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(root, p)).num_rows for p in rels)


def _spark_rewrite(
    spark: SparkSession,
    table: LakeTable,
    buckets: list[int],
    inputs: dict[str, list[str]],
    expire_tombstones_before,
    target_file_bytes: int,
    zorder: tuple[str, ...] | None,
):
    """The Spark route: ``lww_dedup`` over the buckets' ``inputs``, the
    tombstone filter, then a range-partitioned sorted write. Stages the
    files into one ``data/c-<uuid>`` dir (no commit). Returns ``(files,
    rows_in, rows_out)``, the row counts from the parquet footers."""
    paths = [p for fs in inputs.values() for p in fs]
    merged = _lww(
        table._read_data_files(
            spark, [os.path.join(table.root, p) for p in paths]
        )
    )
    if expire_tombstones_before is not None:
        merged = merged.filter(
            (~F.coalesce(F.col("_deleted"), F.lit(False)))
            | (F.unix_micros(F.col("ts")) >= F.lit(int(expire_tombstones_before)))
        )
    salts = adaptive_salts(
        table, buckets, spark, target_file_bytes=target_file_bytes
    )
    # clustered rewrite: sort by key — files cover contiguous (conv_id,
    # turn_idx) ranges, the manifest min/max stats are tight, and point
    # lookups prune to ~1 file. ``zorder=(colA, colB, ...)``: sort by the
    # Morton interleave of per-bucket quantile codes instead
    # (operators/zorder.py) — every dimension's per-file range shrinks to
    # ~sqrt of the bucket, so point lookups AND range slices on a second
    # dimension both skip files (record the dims in the ``stats.cols``
    # property to activate the pruning).
    if zorder:
        from etl_documentos_spark.operators.zorder import (
            ZCLUSTER_COL,
            attach_zorder,
        )

        merged = attach_zorder(
            merged, zorder, partition_expr=table.bucket_expr()
        )
        cluster_cols: tuple[str, ...] = (ZCLUSTER_COL,)
    else:
        cluster_cols = KEY_COLS
    files = table._write_data(
        merged, salts=salts, sort_cols=cluster_cols, kind="c"
    )
    return (
        files,
        _footer_rows(table.root, paths),
        _footer_rows(table.root, [p for fs in files.values() for p in fs]),
    )


#: the LWW version order, lowest first: a NULL sorts below every value
_VERSION_COLS = ("ts", "_lsn")

#: rows per output chunk (and parquet row group) of `compact_bucket`
_CHUNK_ROWS = 1 << 15


def lww_arrow(tbl):
    """``lww_dedup`` over a pyarrow Table of physical rows: the indices of
    the row per ``KEY_COLS`` with the greatest ``(ts, _lsn)``, NULL
    lowest, in key order.

    One sort by ``(*KEY_COLS, ts, _lsn)`` with nulls first keeps the last
    row of each key; only the key and version columns are reordered.
    Rows that tie the winner on ``(ts, _lsn)`` are broken the way Spark's
    ``_version_struct`` does: the greatest signed ``xxhash64`` over every
    other column in schema order (`xxh64_chain`), computed for the tied
    rows only; the later row wins a full tie."""
    import numpy as np
    import pyarrow.compute as pc

    from etl_documentos_spark.functions.xxh64 import xxh64_chain

    n = tbl.num_rows
    if n == 0:
        return np.zeros(0, np.int64)
    cols = [*KEY_COLS, *_VERSION_COLS]
    order = pc.sort_indices(
        tbl.select(cols),
        sort_keys=[(c, "ascending") for c in cols],
        null_placement="at_start",
    )
    srt = tbl.select(cols).take(order)
    order = order.to_numpy()

    def same(c):  # row i equals row i + 1 on column c (NULL == NULL)
        a, b = srt[c].slice(0, n - 1), srt[c].slice(1)
        eq = pc.or_(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        return eq.to_numpy(zero_copy_only=False).astype(bool)

    same_key = np.logical_and.reduce([same(c) for c in KEY_COLS])
    keep = np.flatnonzero(np.append(~same_key, True))  # last row per key
    tie = same_key & np.logical_and.reduce([same(c) for c in _VERSION_COLS])
    if tie.any():
        run = np.concatenate(([0], np.cumsum(~tie)))  # (key, version) runs
        win = run[keep]
        multi = np.bincount(run)[win] > 1
        if multi.any():
            cand = np.flatnonzero(np.isin(run, win[multi]))
            payload = [c for c in tbl.column_names if c not in _VERSION_COLS]
            h = xxh64_chain(tbl.take(order[cand]), payload)
            o = np.lexsort((cand, h, run[cand]))  # by run, hash, position
            r = run[cand][o]
            keep[multi] = cand[o][np.append(r[1:] != r[:-1], True)]
    return order[keep]


def compact_bucket(
    table: LakeTable,
    bucket: int,
    files: list[str],
    out: str,
    fields: list,
    expire: int | None,
) -> tuple[list[str], int, int]:
    """The Arrow compaction kernel: one bucket's snapshot ``files`` → its
    LWW-reduced, key-sorted data file(s) in the staging dir ``out``.

    Steps: threaded read projected onto ``fields`` (the schema as
    (name, Arrow type) pairs; `LakeTable.read_data_files_arrow`),
    `lww_arrow`, tombstone expiry (``_deleted`` and ``ts`` NULL or below
    ``expire``, epoch micros, when set), then ONE file
    ``out/b<bucket>-<uuid>.parquet`` in the table's codec, or one per
    ``write.max-records-per-file`` rows when that is set. Output rows are
    gathered and written in `_CHUNK_ROWS` row groups, so memory holds
    the decoded input plus one chunk of output. Columns whose distinct count in a
    file's first chunk is at most a tenth of its rows are
    dictionary-encoded; the rest are not, as a dictionary only adds
    bytes to near-unique columns (text, ``_lsn``).

    Returns ``(file names in out, rows_in, rows_out)``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # one chunk per column: a take from a chunked column concatenates it
    tbl = LakeTable.read_data_files_arrow(
        files, fields, table._renamed()
    ).combine_chunks()
    keep = lww_arrow(tbl)
    if expire is not None:
        last = tbl.select(["_deleted", "ts"]).take(keep)
        ts = last["ts"]
        old = pc.or_(
            pc.is_null(ts),
            pc.fill_null(pc.less(pc.cast(ts, pa.int64()), expire), False),
        )
        drop = pc.and_(pc.fill_null(last["_deleted"], False), old)
        keep = keep[~np.asarray(drop.to_numpy(zero_copy_only=False), bool)]
    n = len(keep)
    per_file = int(table.get_property("write.max-records-per-file", 0)) or n or 1
    names = []
    for lo in range(0, n, per_file):
        idx = keep[lo:lo + per_file]
        first = tbl.take(idx[:_CHUNK_ROWS])
        dict_cols = [
            c for c in first.column_names
            if pc.count_distinct(first[c]).as_py() * 10 <= first.num_rows
        ]
        name = f"b{bucket:05d}-{uuid.uuid4().hex[:16]}.parquet"
        os.makedirs(out, exist_ok=True)
        with pq.ParquetWriter(
            os.path.join(out, name),
            first.schema,
            compression=table.write_compression(),
            use_dictionary=dict_cols,
        ) as w:
            w.write_table(first, row_group_size=_CHUNK_ROWS)
            del first
            for c in range(_CHUNK_ROWS, len(idx), _CHUNK_ROWS):
                w.write_table(
                    tbl.take(idx[c:c + _CHUNK_ROWS]), row_group_size=_CHUNK_ROWS
                )
        names.append(name)
    return names, tbl.num_rows, n


def reduce_arrow(files: list[str], fields: list, renamed: dict, filter=None):
    """The Arrow LWW reduce of one bucket's data ``files``: one
    `LakeTable.read_data_files_arrow` (projected onto ``fields``, renames
    in ``renamed`` folded, ``filter`` applied by the scan), `lww_arrow`,
    then the winning physical rows, in key order, tombstones included.
    Memory holds the decoded files plus the winners: callers bound it by
    the files they pass (one key's, or one bucket of at most
    `ARROW_COMPACT_MAX_BYTES`)."""
    tbl = LakeTable.read_data_files_arrow(files, fields, renamed, filter=filter)
    return tbl.take(lww_arrow(tbl))


def _arrow_read(
    spark: SparkSession, table: LakeTable, fields: list, tasks: list[list]
) -> DataFrame:
    """The Arrow route of `read_current`: one ``mapInArrow`` job of
    ``len(tasks)`` tasks over ``spark.range`` (one id per task, no
    shuffle). Task ``i`` reduces the buckets of ``tasks[i]`` (each a list
    of data files) one after another with `reduce_arrow` and yields their
    winning physical rows in `lww_dedup`'s column order (keys first),
    every column nullable. A task holds one bucket at a time in Python
    memory, which Spark does not account for; `read_current` admits only
    buckets of at most ``ARROW_COMPACT_MAX_BYTES // len(tasks)`` or less,
    so the tasks running at once hold at most `ARROW_COMPACT_MAX_BYTES`
    of parquet between them, the size one driver-side compaction holds."""
    renamed = table._renamed()
    cols = [*KEY_COLS] + [n for n, _ in fields if n not in KEY_COLS]

    def run(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                for files in tasks[i]:
                    win = reduce_arrow(files, fields, renamed).select(cols)
                    yield from win.to_batches()

    schema = T.StructType(
        [T.StructField(c, table.schema[c].dataType, True) for c in cols]
    )
    n = len(tasks)
    return spark.range(0, n, 1, n).mapInArrow(run, schema)


def read_current(
    spark: SparkSession,
    table: LakeTable,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Reader view: LWW winner per key, live rows only, system columns
    dropped. Correct over any mix of compacted base files and MOR deltas.

    Each bucket of the snapshot takes one of three routes, and the three
    parts are unioned before the one tombstone filter (`_live`):

    - reduced: a bucket that holds only one compaction's or merge's
      output (`Snapshot.reduced_buckets`: every file under one
      ``data/c-*`` dir) has one row per key and is scanned as it is;
    - Arrow: on a table whose columns all map to Arrow (`_arrow_fields`),
      an unreduced bucket whose files total at most
      ``ARROW_COMPACT_MAX_BYTES // min(defaultParallelism, unreduced
      buckets)`` (manifest sizes, `LakeTable.bucket_sizes`) is reduced by
      `reduce_arrow` inside one ``mapInArrow`` job (`_arrow_read`): the
      buckets are packed by bytes (`lpt_pack`) into
      ``min(defaultParallelism, buckets)`` tasks, one wave, no shuffle.
      The per-bucket share of the cap keeps the Python memory of all the
      tasks running at once, which Spark does not account for, within
      the one `ARROW_COMPACT_MAX_BYTES` a driver-side compaction holds;
    - Spark: the other unreduced buckets (a column with no Arrow mapping,
      or a bucket over the cap) go through `lww_dedup`, one shuffle.

    A fully compacted table reads with no shuffle, and so does an
    uncompacted one on the Arrow route. The Arrow route opens its files
    inside the tasks, so a filter on the result does not reach its
    parquet reads (and ``inputFiles()`` does not list them): read one key
    with `point_lookup`. Logs one line ``read route=… reduced=… arrow=…
    spark=… tasks=… bytes=…`` per call on the ``etl_documentos_spark``
    logger; ``bytes`` is the manifest size of the unreduced buckets, which
    are statted only on a table with an Arrow mapping (0 otherwise).

    ``snapshot_id``/``ref`` pin the read to an older snapshot or a named
    tag (time travel) — same contract as ``LakeTable.scan``."""
    snap = table.snapshot_at(snapshot_id, ref)
    sid = snap.snapshot_id
    reduced = snap.reduced_buckets()
    rest = [int(b) for b, fs in snap.files.items() if fs and int(b) not in reduced]
    fields = _arrow_fields(spark, table)
    par = spark.sparkContext.defaultParallelism
    sizes = {}
    if fields is not None:
        sizes = table.bucket_sizes(set(rest), snapshot_id=sid)
    cap = ARROW_COMPACT_MAX_BYTES // min(par, len(rest) or 1)
    arrow, lww = [], []
    for b in rest:
        (arrow if fields is not None and sizes[b] <= cap else lww).append(b)
    parts = []
    if reduced:
        df = table.scan(spark, buckets=reduced, snapshot_id=sid)
        # lww_dedup's column order: keys first
        parts.append(
            df.select(*KEY_COLS, *[c for c in df.columns if c not in KEY_COLS])
        )
    tasks = []
    if arrow:
        paths = {
            b: [os.path.join(table.root, p) for p in snap.files[str(b)]]
            for b in arrow
        }
        tasks = lpt_pack([(sizes[b], b) for b in arrow], min(par, len(arrow)))
        tasks = [[paths[b] for b in t] for t in tasks]
        parts.append(_arrow_read(spark, table, fields, tasks))
    if lww or not parts:
        parts.append(_lww(table.scan(spark, buckets=lww, snapshot_id=sid)))
    _log.info(
        "read route=%s reduced=%d arrow=%d spark=%d tasks=%d bytes=%d",
        "+".join(
            name for name, bs in
            (("scan", reduced), ("arrow", arrow), ("spark", lww)) if bs
        ) or "empty",
        len(reduced),
        len(arrow),
        len(lww),
        len(tasks),
        sum(sizes.values()),
    )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return _live(df)


def bucket_of(spark: SparkSession, table: LakeTable, value) -> int:
    """The bucket id a key value hashes to under the table's transform
    (split-bucket aware). A string or integer key is computed on the
    driver with no Spark job: the value as the bucket column's Arrow type,
    hashed by `xxh64_key` and bucketed by `bucket_from_hash` — the same
    functions the writers bucket rows with, bit-equal to
    ``LakeTable.bucket_expr``. Any other key type evaluates the table's own
    ``bucket_expr`` over the value, cast to the column's type, on a
    one-row plan."""
    import pyarrow as pa

    from etl_documentos_spark.functions.xxh64 import bucket_from_hash, xxh64_key

    dt = table.schema[table.bucket_col].dataType
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    try:
        h = xxh64_key(pa.array([value], _arrow_type(dt, tz)))
    except TypeError:
        lit = F.lit(value).cast(dt)
        return int(spark.range(1).select(table.bucket_expr(lit)).first()[0])
    return int(
        bucket_from_hash(h, table.num_buckets, table.split_buckets or None)[0]
    )


def lookup_files(spark: SparkSession, table: LakeTable, conv_id) -> list[str]:
    """The data files `point_lookup` reads for ``conv_id``, as absolute
    paths: the key's bucket (`bucket_of`) less the files whose manifest
    min/max or bloom stats prove the key absent (`LakeTable.data_files`
    with ``prune=``, the same `LakeTable._stats_overlap` test `scan`
    uses)."""
    return table.data_files(
        buckets=[bucket_of(spark, table, conv_id)],
        prune={table.bucket_col: (conv_id, conv_id)},
    )


def point_lookup(spark: SparkSession, table: LakeTable, conv_id) -> DataFrame:
    """Fetch ONE conversation's current turns with double pruning.

    Scale path for "show me this transcript" against a 10^10-row table:
    (1) bucket pruning — the key's hash names exactly one manifest bucket,
    1/num_buckets of the table; (2) manifest min/max file skipping inside
    that bucket — after a sorted compaction each file covers a contiguous
    conv_id range, so the read opens ~1 base file plus any still-uncompacted
    MOR delta files (kept conservatively: no stats or overlapping range).
    With the ``stats.bloom.cols`` table property on, per-file bloom filters
    additionally prove the key absent from most of those unsorted delta
    files (min/max is blind there). `lookup_files` names the files left.

    When every column has an Arrow type (`_arrow_fields`, the compaction
    kernel's gate) the lookup runs in the driver with no Spark job:
    `reduce_arrow` of those files filtered on the key (row-group stats
    skip too; the reducer `read_current`'s Arrow tasks run per bucket),
    then the tombstone filter.
    The few rows come back as ``spark.createDataFrame`` of the Arrow
    table, a local relation, so ``collect()`` starts no job and
    ``inputFiles()`` is empty. Other tables read the same files through
    Spark and reduce them with `lww_dedup`. Both return the columns of
    `read_current`, keys first.
    """
    import pyarrow.compute as pc

    files = lookup_files(spark, table, conv_id)
    fields = _arrow_fields(spark, table)
    if fields is None:
        df = table._read_data_files(spark, files)
        return _live(_lww(df.filter(F.col(table.bucket_col) == F.lit(conv_id))))
    win = reduce_arrow(
        files, fields, table._renamed(),
        filter=pc.field(table.bucket_col) == conv_id,
    )
    live = win.filter(pc.invert(pc.fill_null(win["_deleted"], False)))
    cols = [*KEY_COLS] + [
        f.name for f in table.schema.fields
        if f.name not in KEY_COLS and f.name not in SYSTEM_COL_NAMES
    ]
    return spark.createDataFrame(
        live.select(cols), T.StructType([table.schema[c] for c in cols])
    )
