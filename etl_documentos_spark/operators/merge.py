"""Key-partitioned MERGE of a deduped change batch into a LakeTable.

This is the engine's core write primitive — the set-oriented restatement of
the reference's row lifecycle: INSERT with a provisional status
(``/root/reference/app/services/document_processor.py:126-143``), UPDATE the
same key with final values (``document_processor.py:205-218``,
``app/database/repositories.py:51-68``), DELETE by key
(``repositories.py:70-83``). On Iceberg this is ``MERGE INTO target USING
updates ON key WHEN MATCHED ... WHEN NOT MATCHED INSERT``; here it is the
equivalent copy-on-write plan:

1. prune: compute the set of buckets the batch touches; scan only those
   buckets' files (partition pruning — a batch touching 1% of conversations
   reads 1% of the table);
2. combine: union the pruned target slice with the update rows and reduce
   per key with the same LWW version order ``(ts, lsn)`` used by dedup —
   this makes the merge **version-checked**: a late event (older ts) arriving
   in a later epoch cannot regress a newer row, and re-applying an epoch is a
   no-op (idempotent under at-least-once delivery);
3. tombstones: deletes persist as ``_deleted=true`` rows so that a
   late-arriving older update cannot resurrect a deleted key; readers filter
   them out (``read_current``); a compaction can expire them past the
   lateness watermark;
4. copy-on-write: rewrite only the touched buckets' files and commit one
   atomic snapshot.

Shuffle budget at scale: one hash aggregation over (touched-target-slice +
batch). Both sides partition by the same key; AQE coalesces the small side.
The write re-shuffles on (bucket, salt) to spread hot conversations across
tasks. There is no global sort anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark.lake.table import LakeTable, SpecConflictError
from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.schemas import KEY_COLS

#: engine-managed columns stored in the physical table, invisible to readers
SYSTEM_COLS = [
    T.StructField("_deleted", T.BooleanType(), True),
    T.StructField("_lsn", T.LongType(), True),
]
SYSTEM_COL_NAMES = [f.name for f in SYSTEM_COLS]


def physical_schema(logical: T.StructType) -> T.StructType:
    return T.StructType(list(logical.fields) + list(SYSTEM_COLS))


@dataclass
class MergeStats:
    events_in: int
    keys_upserted: int
    keys_deleted: int
    buckets_touched: int
    conv_ids_touched: int


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
            cols.append(F.col(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return changes.select(*cols)


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    dedup: bool = True,
    compute_stats: bool = False,
) -> MergeStats | None:
    """Apply one change batch to the table. See module docstring for the plan.

    ``changes`` carries the CHANGE_EVENTS shape (op, key, payload, ts, lsn,
    ...). Column set may be wider than the table — caller runs schema
    evolution first (`operators.evolve.evolve_if_needed`).

    The batch is NOT pre-deduped: batch-internal LWW and the version check
    against existing rows are the same reduction, so one hash aggregation
    over (target-slice ∪ batch) does both — no separate dedup shuffle.

    Split-safe: the whole read-modify-write is retried against fresh
    metadata if a concurrent ``split_bucket``/``rebucket`` invalidates the
    bucket keys mid-merge (``SpecConflictError`` from the commit).
    """
    for _ in range(5):
        try:
            return _merge_into_once(spark, table, changes, dedup, compute_stats)
        except SpecConflictError:
            table._refresh()
    raise SpecConflictError("spec kept changing across 5 merge retries")


def _merge_into_once(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    dedup: bool,
    compute_stats: bool,
) -> MergeStats | None:
    updates = changes_to_physical(changes, table.schema)

    # ---- partition pruning: which buckets does this batch touch?
    # (cheap distinct over the — typically cached — batch; result is at most
    # num_buckets ints)
    touched = [
        r[0]
        for r in updates.select(table.bucket_expr().alias("b"))
        .distinct()
        .collect()
    ]
    if not touched:
        return MergeStats(0, 0, 0, 0, 0) if compute_stats else None

    expected = {
        b: fs
        for b, fs in table.current_snapshot.files.items()
        if int(b) in touched
    }
    target_slice = table.scan(spark, buckets=touched)

    # ---- version-checked combine: LWW over (existing ∪ incoming)
    merged = lww_dedup(
        target_slice.unionByName(updates),
        key_cols=KEY_COLS,
        order_cols=("ts", "_lsn"),
    )

    stats = None
    if compute_stats:
        deduped = lww_dedup(changes) if dedup else changes
        agg = deduped.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("op") != "delete", 1).otherwise(0)).alias("up"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("del"),
            F.approx_count_distinct("conv_id").alias("convs"),
        ).first()
        stats = MergeStats(
            events_in=agg["n"],
            keys_upserted=agg["up"],
            keys_deleted=agg["del"],
            buckets_touched=len(touched),
            conv_ids_touched=agg["convs"],
        )

    # COW output is deduped (<=1 row/key), but a hot CONVERSATION still
    # concentrates all its turns in one bucket — size the salt from the
    # observed bucket skew so the hot bucket's rewrite spreads across tasks
    salts = adaptive_salts(table, touched, spark)
    table.overwrite_buckets(merged, touched, salts=salts, expected=expected)
    return stats


def adaptive_salts(
    table: LakeTable,
    buckets: list[int],
    spark: SparkSession,
    floor: int = 2,
    cap: int = 32,
    target_file_bytes: int | None = None,
) -> int:
    """Salt count sized from the table's OBSERVED bucket skew — no manual
    tuning, no extra Spark job (reads the file manifest via
    `LakeTable.bucket_sizes`).

    Rationale (same math as ``_write_data``'s docstring): a bucket holding
    fraction ``h`` of the rewrite is processed by one task per salt, so for
    the rewrite to keep P cores busy the hot bucket must split into
    ``>= h * P`` salted tasks. Uniform tables get the floor (bounds file
    count); a 30%-hot bucket on a 32-core cluster gets ~10 salts. This is
    the write-side complement of `operators.skew.detect_hot_keys` (which
    measures row-level key skew before any files exist); here the snapshot
    manifest already encodes the skew for free.

    ``target_file_bytes`` (read-optimize passes): additionally cap the salt
    count by how many files the data actually warrants —
    ``ceil(hot_bucket_bytes / target)`` — so a maintenance compaction of a
    small bucket collapses it to ONE file instead of fragmenting it into
    ``h*P`` shards, while a multi-GB bucket keeps its parallel spread. Same
    semantic as Iceberg's ``rewrite_data_files`` target-file-size-bytes.
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
    per epoch the write cost is O(batch) — one projection + one shuffle-free
    bucketed append (`LakeTable.append_direct`) — instead of copy-on-write's
    O(touched table slice). At 10^10 events the COW variant rewrites every
    hot bucket every epoch; MOR keeps ingest linear and bounds read
    amplification with `compact`.

    ``target_tasks`` bounds writer-task count (files/epoch =
    tasks x buckets-per-task); callers with small per-epoch batches pass a
    low value to bound delta-file churn between compactions, the bulk
    backfill leaves the default (~2x parallelism).

    ``branch``: land the delta files on a named branch (multi-commit
    WAP) — because MOR defers the LWW reduction to read time, a branch
    upsert is JUST an append on the branch head, and ``read_current(...,
    ref=branch)`` shows the merged state; ``fast_forward`` publishes.
    """
    table.append_direct(
        changes_to_physical(changes, table.schema),
        target_tasks=target_tasks,
        branch=branch,
    )


def compact(
    spark: SparkSession,
    table: LakeTable,
    buckets: list[int] | None = None,
    expire_tombstones_before=None,
    target_file_bytes: int = 128 << 20,
    zorder: tuple[str, ...] | None = None,
) -> None:
    """Rewrite buckets with the LWW reduction applied (read-optimize).

    Equivalent to the COW merge with an empty batch: one hash aggregation
    per key over the bucket's base+delta files, then a bucketed rewrite.
    ``expire_tombstones_before``: optionally drop delete tombstones older
    than the lateness watermark (they exist only to fence late updates).
    The bound is EPOCH MICROSECONDS (int) and is compared against
    ``unix_micros(ts)`` — both sides live in the UTC-micros domain, so the
    comparison is independent of ``spark.sql.session.timeZone`` (a naive
    timestamp literal would be re-interpreted in the session zone and could
    expire tombstones hours early in a non-UTC session).

    ``target_file_bytes``: output-file sizing for the rewrite (per-bucket
    salt count is capped at ``ceil(bucket_bytes / target)``) — compaction is
    a read-optimize pass, so it must REDUCE file counts on small buckets,
    not re-fragment them at the parallel write width.

    Split-safe: retried whole against fresh metadata on ``SpecConflictError``
    (same contract as ``merge_into``).
    """
    for _ in range(5):
        try:
            return _compact_once(
                spark, table, buckets, expire_tombstones_before,
                target_file_bytes, zorder,
            )
        except SpecConflictError:
            table._refresh()
            buckets = None  # old bucket ids are stale under the new spec
    raise SpecConflictError("spec kept changing across 5 compact retries")


def _compact_once(
    spark: SparkSession,
    table: LakeTable,
    buckets: list[int] | None,
    expire_tombstones_before,
    target_file_bytes: int,
    zorder: tuple[str, ...] | None = None,
) -> None:
    target = table.live_buckets() if buckets is None else buckets
    # capture the exact file lists this rewrite reads: the commit replaces
    # only these, so an append landing concurrently (another process) in a
    # target bucket survives as a delta file instead of being dropped
    expected = {
        b: fs
        for b, fs in table.current_snapshot.files.items()
        if int(b) in target
    }
    merged = lww_dedup(
        table.scan(spark, buckets=target),
        key_cols=KEY_COLS,
        order_cols=("ts", "_lsn"),
    )
    if expire_tombstones_before is not None:
        merged = merged.filter(
            (~F.coalesce(F.col("_deleted"), F.lit(False)))
            | (F.unix_micros(F.col("ts")) >= F.lit(int(expire_tombstones_before)))
        )
    salts = adaptive_salts(
        table, target, spark, target_file_bytes=target_file_bytes
    )
    # clustered rewrite: compaction is the read-optimize pass. Default:
    # sort by key — files cover contiguous (conv_id, turn_idx) ranges, the
    # manifest min/max stats are tight, and point lookups prune to ~1
    # file. ``zorder=(colA, colB, ...)``: sort by the Morton interleave of
    # per-bucket quantile codes instead (operators/zorder.py) — every
    # dimension's per-file range shrinks to ~sqrt of the bucket, so point
    # lookups AND range slices on a second dimension both skip files
    # (record the dims in the ``stats.cols`` property to activate the
    # pruning).
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
    table.overwrite_buckets(
        merged,
        target,
        salts=salts,
        expected=expected,
        sort_cols=cluster_cols,
        maintenance=True,  # logical no-op: changelog readers skip it
    )


def read_current(
    spark: SparkSession,
    table: LakeTable,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Reader view: LWW winner per key, live rows only, system columns
    dropped. Correct over any mix of compacted base files and MOR deltas
    (on a fully-compacted table the reduction is a no-op).

    ``snapshot_id``/``ref`` pin the read to an older snapshot or a named
    tag (time travel) — same contract as ``LakeTable.scan``."""
    df = lww_dedup(
        table.scan(spark, snapshot_id=snapshot_id, ref=ref),
        key_cols=KEY_COLS,
        order_cols=("ts", "_lsn"),
    )
    live = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return live.drop(*SYSTEM_COL_NAMES)


def bucket_of(spark: SparkSession, table: LakeTable, value) -> int:
    """The bucket id a key value hashes to, evaluated with the TABLE'S OWN
    transform expression (split-bucket aware) on a one-row plan — so driver
    code and executor writes can never disagree on the hash. One tiny local
    job, same as Iceberg evaluating its bucket transform for a lookup."""
    return int(
        spark.range(1).select(table.bucket_expr(F.lit(value))).first()[0]
    )


def point_lookup(spark: SparkSession, table: LakeTable, conv_id) -> DataFrame:
    """Fetch ONE conversation's current turns with double pruning.

    Scale path for "show me this transcript" against a 10^10-row table:
    (1) bucket pruning — the key's hash names exactly one manifest bucket,
    1/num_buckets of the table; (2) manifest min/max file skipping inside
    that bucket — after a sorted compaction each file covers a contiguous
    conv_id range, so the scan opens ~1 base file plus any still-uncompacted
    MOR delta files (kept conservatively: no stats or overlapping range).
    With the ``stats.bloom.cols`` table property on, per-file bloom filters
    additionally prove the key absent from most of those unsorted delta
    files (min/max is blind there), closing the read-amplification gap
    between compactions.
    The row-level filter + LWW reduction then run over that handful of
    files. No shuffle beyond the per-key aggregation of a few hundred rows.
    """
    b = bucket_of(spark, table, conv_id)
    df = table.scan(
        spark, buckets=[b], prune={table.bucket_col: (conv_id, conv_id)}
    ).filter(F.col(table.bucket_col) == F.lit(conv_id))
    win = lww_dedup(df, key_cols=KEY_COLS, order_cols=("ts", "_lsn"))
    live = win.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return live.drop(*SYSTEM_COL_NAMES)
