"""CdcPipeline — the exactly-once apply of change epochs.

Every route runs one core, ``CdcPipeline._apply``, over a set of epochs:

1. commit-log guard: skip the epochs already committed (restart replay);
2. additive schema evolution if the batch carries new columns;
3. the route's writer stages and commits the epochs' rows and returns one
   `BatchStats` per epoch (position fingerprint, per-source-partition
   offsets, lineage counters, max event time);
4. watermark advance and threshold compaction, once per call;
5. per epoch, ``_record``: lineage rows, one metrics row, then the commit
   record (atomic rename) — the epoch is now durable.

An epoch without rows takes the same steps: it commits the empty
fingerprint ``0:0:0:0`` next to an empty lineage file and a zero-event
metrics row.

Routes and their writers:

- ``apply_epochs_bulk_files``: MOR epochs as local parquet files; writer
  tasks read them with pyarrow (``write_change_files_direct``), so no row
  crosses the JVM→Python Arrow socket. ``stream.replay_epochs`` (one epoch
  per call) and ``stream.replay_bulk`` (all at once) use it for every
  local MOR epoch without quarantine.
- ``apply_epoch``: one epoch as a DataFrame — the route for inputs that are
  not local files (foreachBatch, synthetic sources, bootstrap, ``://``
  paths), for COW and for quarantine (the validity split is a DataFrame
  filter). MOR uses the DataFrame writer
  (``write_data_files_direct(stats=True)``: the stats come out of the same
  ``mapInArrow`` pass); COW aggregates ``batch_stats`` and then
  ``merge_into`` rewrites the touched buckets.
- ``apply_epochs_bulk``: many MOR epochs as one DataFrame through the
  DataFrame writer (``replay_bulk``'s fallback for ``://`` paths).

Both MOR writers emit the same per-(epoch, source partition) stats rows,
folded by ``epoch_stats``, and commit through the table's one stage →
commit → restage-on-spec-conflict loop (`LakeTable.append_staged`).

Crash-safety ordering: the table snapshot commit (step 3) lands before the
commit record (step 5). A crash between them leaves a committed snapshot and
no commit record; on replay the epoch re-applies, and the version-checked
merge makes that re-application a no-op (idempotence test asserts table-hash
equality). Reference analogue of the lifecycle: insert ``processando`` ->
update ``concluido``/``erro`` + audit rows
(``/root/reference/app/services/document_processor.py:126-143, 205-218,
615-631``).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.evolve import evolve_if_needed
from etl_documentos_spark.operators.merge import (
    compact,
    merge_into,
    physical_exprs,
)
from etl_documentos_spark.streaming.commitlog import (
    BatchStats,
    CommitLog,
    batch_stats,
    combine_chunks,
    position_hash,
)
from etl_documentos_spark.streaming.lineage import (
    append_lineage_rows,
    append_metrics,
)


def merge_hll_counts(sketch_rows) -> dict[tuple[int, int], int]:
    """Merge per-task HyperLogLog register rows (``kind="l"`` from
    ``LakeTable._write_data_direct`` stats mode) into per-(epoch,
    source_partition) distinct counts.

    Register-wise max across tasks, then the standard bias-corrected HLL
    estimate with the linear-counting small-range correction — determinstic
    for a given input set regardless of task order. ~3.2% relative error at
    m=1024, matching the approx_count_distinct contract this replaces.
    """
    import math

    import numpy as np

    merged: dict[tuple[int, int], np.ndarray] = {}
    for r in sketch_rows:
        key = (int(r["epoch"]), int(r["sp"]))
        regs = np.frombuffer(bytes(r["sketch"]), dtype=np.uint8)
        acc = merged.get(key)
        merged[key] = regs.copy() if acc is None else np.maximum(acc, regs)
    out: dict[tuple[int, int], int] = {}
    for key, regs in merged.items():
        m = regs.size
        alpha = 0.7213 / (1 + 1.079 / m)
        est = alpha * m * m / float(np.exp2(-regs.astype(np.float64)).sum())
        zeros = int(np.count_nonzero(regs == 0))
        if est <= 2.5 * m and zeros:
            est = m * math.log(m / zeros)
        out[key] = int(round(est))
    return out


def epoch_stats(stat_rows, epochs: list[int]) -> dict[int, BatchStats]:
    """Fold the direct writers' stats rows into one `BatchStats` per epoch.

    ``stat_rows``: the writer's "s" rows (one partial per task and
    (epoch, source partition): max for offsets, sum for counters) and "l"
    rows (HyperLogLog registers, merged by `merge_hll_counts`); pyspark Rows
    or dicts — both index by name. An epoch of ``epochs`` without rows gets
    the empty stats (fingerprint ``0:0:0:0``)."""
    convs = merge_hll_counts(r for r in stat_rows if r["kind"] == "l")
    per_epoch: dict[int, list] = {e: [] for e in epochs}
    for r in stat_rows:
        if r["kind"] == "s":
            per_epoch[int(r["epoch"])].append(r)
    out = {}
    for e, ers in per_epoch.items():
        n = sum(int(r["n"]) for r in ers)
        offsets: dict[int, int] = {}
        per_sp: dict[int, list[int]] = {}
        for r in ers:
            sp = int(r["sp"])
            offsets[sp] = max(offsets.get(sp, -1), int(r["max_lsn"]))
            agg = per_sp.setdefault(sp, [0, 0])
            agg[0] += int(r["n"])
            agg[1] += int(r["ndel"])
        ts = [int(r["max_ts"]) for r in ers if r["max_ts"] is not None]
        out[e] = BatchStats(
            combine_chunks(
                [(int(r["h0"]), int(r["h1"]), int(r["h2"])) for r in ers]
            ) + f":{n}",
            offsets,
            n,
            [
                (sp, n_sp, n_sp - ndel, ndel, convs.get((e, sp), 0))
                for sp, (n_sp, ndel) in sorted(per_sp.items())
            ],
            max_ts=max(ts, default=None),
        )
    return out


#: table property holding the snapshot-bootstrap log position (see
#: ``CdcPipeline.bootstrap``)
BOOTSTRAP_WM_PROP = "bootstrap.watermark-lsn"

#: source partitions a bootstrap snapshot's rows spread over (by conv_id)
BOOTSTRAP_PARTITIONS = 8


def _union_footer_schema(file_epochs: list[tuple[str, int]]) -> T.StructType:
    """Declared-schema fallback for the file-driven bulk path: union the
    footer schemas of ONE file per epoch (additive evolution lands at epoch
    boundaries — a binlog tail's schema changes between checkpointed
    epochs, not mid-file). O(epochs) driver footer reads, not O(files)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow.parquet as pq

    fields: dict[str, T.StructField] = {}
    seen: set[int] = set()
    for path, epoch in file_epochs:
        if epoch in seen:
            continue
        seen.add(epoch)
        st = from_arrow_schema(pq.read_schema(path))
        for f in st.fields:
            fields.setdefault(f.name, f)
    return T.StructType(list(fields.values()))


@dataclass
class EpochResult:
    epoch_id: int
    skipped: bool
    events: int
    duration_s: float
    added_columns: list[str]
    quarantined: int = 0


class CdcPipeline:
    """Owns the table + sidecar paths; one instance drives batch or stream.

    ``mode``:
    - ``"mor"`` (default): merge-on-read — per-epoch appends of delta files,
      LWW at read time, automatic compaction when a bucket accumulates more
      than ``compact_at_files`` files. The high-throughput ingest shape.
    - ``"cow"``: copy-on-write — every epoch rewrites the touched buckets
      with the reduction applied. Read-optimal, write-amplified.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        workdir: str,
        mode: str = "mor",
        compact_at_files: int = 64,
        lateness_seconds: float | None = None,
        commitlog_keep_last: int = 4096,
        quarantine: bool = False,
    ):
        assert mode in ("mor", "cow")
        self.spark = spark
        self.table_root = table_root
        self.workdir = workdir
        self.mode = mode
        self.compact_at_files = compact_at_files
        #: bounded lateness: events older than (max event-time seen) -
        #: lateness are final. Compaction then expires delete tombstones
        #: past the watermark (they only exist to fence late updates), so
        #: tombstone volume is bounded by the lateness window instead of
        #: growing forever. None = keep tombstones indefinitely.
        self.lateness_seconds = lateness_seconds
        self.commitlog_keep_last = commitlog_keep_last
        #: max event-time observed across applied epochs (watermark source);
        #: resets on restart and re-advances with the next batches — expiry
        #: simply pauses until data flows, never expires too early
        self._max_event_ts = None
        self.commitlog = CommitLog(os.path.join(workdir, "commits"))
        self.lineage_path = os.path.join(workdir, "lineage")
        self.metrics_path = os.path.join(workdir, "metrics")
        #: dead-letter queue: rows failing row-level validity (unknown op,
        #: null key/version) divert to ``<workdir>/dlq/epoch=N`` instead of
        #: poisoning the merge (a null conv_id has no bucket; an unknown op
        #: would silently upsert). Opt-in — the validity split costs one
        #: extra filter pass over each batch. Schema-LEVEL drift (type
        #: changes) still raises: that is a pipeline bug, not a bad row.
        self.quarantine = quarantine
        self.dlq_path = os.path.join(workdir, "dlq")
        #: serializes metadata commits (schema evolution, snapshot append,
        #: compaction) — the data-file write jobs themselves run unlocked, so
        #: concurrent epoch applies overlap executor work and only the cheap
        #: pointer swap is serial (two-phase commit shape)
        self._commit_lock = threading.Lock()
        #: snapshot-bootstrap watermark cache: "unloaded" until first read
        #: (one table-metadata lookup per pipeline lifetime), then the int
        #: log position or None. See ``bootstrap``.
        self._bootstrap_wm: int | None | str = "unloaded"
        #: derived tables maintained in-stream (lake/mview.py); refreshed
        #: after each micro-batch by start_stream's foreachBatch handler
        self._views: list = []
        #: downstream lake tables replicated in-stream (operators/replicate)
        self._replicas: list = []

    def attach_view(self, view) -> None:
        """Maintain a `lake.mview.MaterializedView` continuously: the
        streaming handler refreshes it after every applied micro-batch.
        Refresh cost is O(epoch delta + touched buckets), so attaching a
        view adds per-batch work proportional to the batch, not the table.
        A view is also free to lag: its refresh is driven by the source's
        changelog, so refreshing once at the end (or from a separate
        process) yields the same state — attachment is a freshness choice,
        not a correctness one."""
        self._views.append(view)

    def attach_replica(self, target) -> None:
        """Continuously replicate into another `LakeTable`: one
        ``operators.replicate`` tick after every applied micro-batch.
        Same freshness-not-correctness contract as ``attach_view`` — a
        replica may lag and catch up from the changelog at any time."""
        self._replicas.append(target)

    def refresh_views(self) -> None:
        if self._replicas:
            from etl_documentos_spark.operators.replicate import replicate

            for t in self._replicas:
                replicate(self.spark, self.table, t)
        if not self._views:
            return
        table = self.table
        for v in self._views:
            try:
                v.refresh(self.spark, table)
            except ValueError:
                # a logical overwrite/rollback broke the incremental feed
                # (COW-mode pipeline): resync from a full read — correct
                # always, incremental only when the source allows it
                v.full_refresh(self.spark, table)

    @property
    def table(self) -> LakeTable:
        return LakeTable.load(self.table_root)

    @property
    def bootstrap_watermark(self) -> int | None:
        """Log position the initial snapshot covered, or None.

        Persisted as a table property (crash-safe, restart-visible); cached
        after the first read so the steady-state apply path pays a plain
        attribute check, nothing else, when no bootstrap happened."""
        if self._bootstrap_wm == "unloaded":
            v = self.table.get_property(BOOTSTRAP_WM_PROP)
            self._bootstrap_wm = None if v is None else int(v)
        return self._bootstrap_wm

    def bootstrap(
        self,
        snapshot: DataFrame,
        watermark_lsn: int,
        epoch_id: int = 0,
        write_tasks: int | None = None,
    ) -> EpochResult:
        """Initial-snapshot load + change-stream handoff (Debezium's
        snapshot->streaming transition).

        ``snapshot`` is the upstream table's consistent state AS OF log
        position ``watermark_lsn`` (key + payload columns; no op/lsn). It
        loads through the same exactly-once epoch apply as any batch —
        rows become inserts versioned at (row ts, watermark) — and the
        watermark then persists as a table property. Every subsequent
        ``apply_epoch`` filters its batch to ``lsn > watermark``: events at
        or before the snapshot position are already reflected in the
        snapshot, and REPLAYING them would resurrect rows whose delete
        predates the snapshot (the snapshot has no tombstone for them — the
        stale insert would win against nothing). The filter is a pushed-down
        range predicate, so parquet/Kafka sources prune pre-watermark
        files/offsets without scanning them.

        Crash-safe and idempotent: the snapshot apply commits under
        ``epoch_id`` in the commit log, so a re-call after any crash skips
        straight to re-persisting the watermark property. Must complete
        before the tail starts (the handoff contract; the property write is
        the commit point). The reference's analogue is the initial bulk
        document load before incremental processing
        (``/root/reference/app/services/document_processor.py:126-143`` —
        first insert, then per-event updates).
        """
        wm = int(watermark_lsn)
        payload = [c for c in snapshot.columns if c not in ("conv_id",)]
        changes = snapshot.select(
            F.lit("insert").alias("op"),
            F.col("conv_id"),
            *[F.col(c) for c in payload],
            F.lit(wm).cast("long").alias("lsn"),
            F.pmod(F.xxhash64("conv_id"), F.lit(BOOTSTRAP_PARTITIONS))
            .cast("int")
            .alias("source_partition"),
        )
        res = self.apply_epoch(changes, epoch_id, write_tasks=write_tasks)
        self.table.set_property(BOOTSTRAP_WM_PROP, wm)
        self._bootstrap_wm = wm
        return res

    @property
    def _epoch_write_tasks(self) -> int:
        """Default writer-task bound for a per-epoch MOR append when the
        caller gives no hint: full parallelism. apply_epoch's callers are
        serial by default (the streaming tail applies one micro-batch at a
        time), so the lone in-flight epoch should own the cluster — a lower
        bound here just idles cores on the critical path. Concurrent
        replayers (``stream.replay_epochs``) pass an explicit per-epoch
        ``write_tasks`` sized byte-proportionally across the in-flight
        window instead. File churn stays bounded either way: each task
        writes at most one file per bucket, the ``coalesce`` can't raise a
        small batch's scan-partition count, and threshold compaction folds
        the deltas."""
        return max(2, self.spark.sparkContext.defaultParallelism)

    def _fence(self, changes: DataFrame) -> DataFrame:
        """Snapshot-bootstrap handoff: events at or before the snapshot's
        log position are already in the table state and must not replay (a
        pre-snapshot insert would resurrect a pre-snapshot delete). Plain
        attribute check when no bootstrap happened; when set, a pushed-down
        range predicate that prunes pre-watermark files."""
        wm = self.bootstrap_watermark
        if wm is None:
            return changes
        return changes.filter(F.col("lsn") > F.lit(wm))

    def _apply(
        self, epoch_ids: list[int], t0: float, frame, write
    ) -> list[EpochResult]:
        """The exactly-once apply every route runs (module docstring steps).

        ``frame(todo)``: the DataFrame whose columns drive schema evolution
        for the epochs still to apply, or None when no row will be written.
        ``write(table, todo)``: stage and commit those epochs' rows through
        ``table`` (the handle evolution used); returns ``{epoch:
        BatchStats}`` covering every epoch of ``todo``."""
        todo = [e for e in epoch_ids if not self.commitlog.is_committed(e)]
        results = [
            EpochResult(e, True, 0, 0.0, []) for e in epoch_ids if e not in todo
        ]
        if not todo:
            return results
        df = frame(todo)
        with self._commit_lock:
            table = self.table
            added = [] if df is None else evolve_if_needed(df, table)
        stats = write(table, todo)
        for st in stats.values():
            self._advance_watermark(st.max_ts)
        self._maybe_compact(table)
        duration = time.monotonic() - t0
        for e in sorted(todo):
            self._record(e, stats[e], duration / len(todo))
            results.append(
                EpochResult(e, False, stats[e].n_events, duration, added)
            )
        return results

    def _record(
        self, epoch_id: int, stats: BatchStats, duration_s: float
    ) -> None:
        """The per-epoch exactly-once records, in crash-safe order: lineage
        rows and the metrics row (each replaced, not duplicated, when a
        crash re-applies the epoch), then the commit record. The log
        roll-up runs once per 256 epoch ids: it keeps the commit dir (and
        restart-time max_offsets scans) bounded at millions of epochs
        without a directory listing on every apply."""
        append_lineage_rows(
            self.spark, self.lineage_path, epoch_id, stats.lineage_rows
        )
        append_metrics(
            self.spark, self.metrics_path, epoch_id,
            events=stats.n_events, duration_s=duration_s, lag_events=0,
        )
        self.commitlog.commit(epoch_id, stats.fingerprint, stats.offsets)
        if epoch_id % 256 == 0:
            self.commitlog.compact_log(self.commitlog_keep_last)

    def _write_frame(
        self,
        table: LakeTable,
        batch: DataFrame,
        epoch: Column,
        todo: list[int],
        target_tasks: int | None = None,
    ) -> dict[int, BatchStats]:
        """The DataFrame writer: one ``mapInArrow`` pass writes the delta
        files and aggregates the stats per (``epoch``, source partition)
        inside the Arrow writer (`LakeTable._write_data_direct` stats mode)
        from sidecar columns that never reach parquet: ``_h``, the same
        JVM position hash the file writer computes in numpy, so both routes
        fingerprint alike, and ``_ch``, xxhash64 of ``conv_id`` for the
        per-task HyperLogLog of ``conv_ids_touched``. A restage after a
        spec conflict re-derives the stats from the same batch."""

        def stage(t: LakeTable):
            aug = batch.select(
                *physical_exprs(batch, t.schema),
                position_hash().alias("_h"),
                F.xxhash64(F.col("conv_id")).alias("_ch"),
                epoch.cast("int").alias("epoch"),
                F.col("source_partition")
                .cast("int")
                .alias("source_partition"),
            )
            return t.write_data_files_direct(
                aug, target_tasks=target_tasks, stats=True
            )

        _, rows = table.append_staged(
            stage, lock=self._commit_lock, commit_empty=False
        )
        return epoch_stats(rows, todo)

    def apply_epochs_bulk(
        self, changes: DataFrame, epoch_ids: list[int]
    ) -> list[EpochResult]:
        """Backfill mode: apply MANY epochs as one super-batch.

        A 10^10-event replay is a catch-up backfill — paying the per-epoch
        serial cost (plan analysis, job scheduling, snapshot commit) once per
        micro-batch would make the driver the bottleneck. Bulk mode applies K
        epochs with ONE write pass (stats grouped by epoch x source
        partition ride it) and K commit records, preserving the
        exactly-once contract per epoch: already-committed epochs are
        filtered out up front, fingerprints/offsets/lineage stay per-epoch.

        ``changes`` must carry an ``epoch`` column; MOR mode only (the
        reduction happens at read/compaction, so epochs need no ordering
        barrier between them — LWW is order-insensitive by construction).
        """
        assert self.mode == "mor", "bulk backfill requires merge-on-read"
        t0 = time.monotonic()
        changes = self._fence(changes)
        return self._apply(
            epoch_ids,
            t0,
            lambda todo: changes,
            lambda table, todo: self._write_frame(
                table,
                changes.filter(F.col("epoch").isin(todo)),
                F.col("epoch"),
                todo,
            ),
        )

    def apply_epochs_bulk_files(
        self,
        file_epochs: list[tuple[str, int]],
        schema: T.StructType | None = None,
        target_tasks: int | None = None,
        epochs: list[int] | None = None,
    ) -> list[EpochResult]:
        """Backfill mode over RAW change-log parquet files — the zero-IPC
        fast path of `apply_epochs_bulk`.

        Same exactly-once contract (per-epoch fingerprints, offsets,
        lineage; committed epochs skipped up front), but writer tasks read
        the listed files DIRECTLY with pyarrow and bucket/hash rows in
        numpy (`lake.table.write_change_files_direct`), so the batch never
        crosses the JVM→Python Arrow socket and the JVM never decodes it.
        Position fingerprints (``xxhash64(source_partition, lsn)`` per row:
        two integers, not every payload column) are hashed bit-equal to the
        DataFrame paths, so a backfill started here and resumed through
        `apply_epochs_bulk` (or vice versa) dedups correctly.

        ``file_epochs``: (parquet path, epoch id) pairs — an epoch may span
        many files. ``schema``: the declared change-stream schema (drives
        schema evolution); derived from
        the files' footers (union over one footer per epoch) when omitted.
        ``epochs`` widens the commit set beyond the files: an epoch with
        ZERO files (an external writer's empty epoch directory) must still
        commit its empty fingerprint, otherwise the commit-log gap stalls
        the contiguous HWM roll-up forever and the epoch re-processes on
        every future replay. MOR mode only, like all bulk paths.
        """
        assert self.mode == "mor", "bulk backfill requires merge-on-read"
        t0 = time.monotonic()
        wm = self.bootstrap_watermark
        epoch_ids = sorted({e for _, e in file_epochs} | set(epochs or []))

        def pairs(todo: list[int]) -> list[tuple[str, int]]:
            keep = set(todo)
            return [(f, e) for f, e in file_epochs if e in keep]

        def frame(todo):
            todo_pairs = pairs(todo)
            if not todo_pairs:
                return None  # only empty epochs: nothing to evolve
            return self.spark.createDataFrame(
                [], schema or _union_footer_schema(todo_pairs)
            )

        def write(table, todo):
            todo_pairs = pairs(todo)
            rows = []
            if todo_pairs:
                _, rows = table.append_staged(
                    lambda t: t.write_change_files_direct(
                        self.spark, todo_pairs, fence_lsn=wm,
                        target_tasks=target_tasks,
                    ),
                    lock=self._commit_lock,
                    commit_empty=False,
                )
            return epoch_stats(rows, todo)

        return self._apply(epoch_ids, t0, frame, write)

    def _advance_watermark(self, max_ts_us) -> None:
        """Advance the event-time watermark; ``max_ts_us`` is epoch
        MICROSECONDS (int) — the tz-independent domain all stats sources
        emit (Arrow int64 view / ``unix_micros``), so a non-UTC session
        timezone cannot shift the bound."""
        if max_ts_us is None:
            return
        max_ts_us = int(max_ts_us)
        if self._max_event_ts is None or max_ts_us > self._max_event_ts:
            self._max_event_ts = max_ts_us

    @property
    def tombstone_expiry(self):
        """Event-time bound (epoch microseconds) below which delete
        tombstones are final and may be dropped at compaction:
        watermark (max ts seen) - lateness."""
        if self.lateness_seconds is None or self._max_event_ts is None:
            return None
        return self._max_event_ts - int(self.lateness_seconds * 1_000_000)

    def _maybe_compact(self, table: LakeTable) -> None:
        """Compact buckets whose delta-file count exceeds the threshold —
        bounds MOR read amplification; amortized O(table/epochs) instead of
        COW's O(table) per epoch. Tombstones older than the lateness
        watermark are expired in the same rewrite.

        The in-process commit lock avoids duplicate compaction work between
        threads; cross-process safety comes from ``commit_overwrite``'s
        expected-files merge (a racing append survives as a delta file).
        """
        files = table.current_snapshot.files
        hot = [int(b) for b, fs in files.items() if len(fs) > self.compact_at_files]
        if hot:
            with self._commit_lock:
                fresh = self.table  # recheck under the lock (another thread
                # may have compacted these buckets already)
                hot = [
                    int(b)
                    for b, fs in fresh.current_snapshot.files.items()
                    if len(fs) > self.compact_at_files
                ]
                if hot:
                    compact(
                        self.spark,
                        fresh,
                        buckets=hot,
                        expire_tombstones_before=self.tombstone_expiry,
                    )

    def _quarantine_split(
        self, changes: DataFrame, epoch_id: int
    ) -> tuple[DataFrame, int]:
        """Divert row-level-invalid events to the DLQ; return (valid, n_bad).

        Validity = known op + non-null key/version columns — exactly the
        invariants the merge/bucketing relies on. The DLQ write is an
        overwrite of ``dlq/epoch=N``, so a crash-replayed epoch rewrites
        the same rows instead of duplicating them (idempotent like every
        other per-epoch sink). Quarantined rows keep every source column
        plus a ``_dlq_reason`` for triage/replay tooling.
        """
        reason = (
            F.when(
                ~F.col("op").isin("insert", "update", "delete"),
                F.lit("unknown_op"),
            )
            .when(F.col("conv_id").isNull(), F.lit("null_conv_id"))
            .when(F.col("turn_idx").isNull(), F.lit("null_turn_idx"))
            .when(F.col("lsn").isNull(), F.lit("null_lsn"))
            .when(F.col("ts").isNull(), F.lit("null_ts"))
        )
        bad = changes.withColumn("_dlq_reason", reason).filter(
            F.col("_dlq_reason").isNotNull()
        )
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("overwrite").parquet(
                os.path.join(self.dlq_path, f"epoch={epoch_id}")
            )
        return changes.filter(reason.isNull()), n_bad

    def read_dlq(self, epochs: list[int] | None = None) -> DataFrame:
        """Quarantined events (all epochs or a subset) for triage/replay."""
        import glob

        dirs = (
            sorted(glob.glob(os.path.join(self.dlq_path, "epoch=*")))
            if epochs is None
            else [
                os.path.join(self.dlq_path, f"epoch={e}") for e in epochs
            ]
        )
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            raise FileNotFoundError(f"no DLQ entries under {self.dlq_path}")
        return self.spark.read.option(
            "basePath", self.dlq_path
        ).parquet(*dirs)

    def _merge_cow(self, table: LakeTable, changes: DataFrame) -> BatchStats:
        """The COW writer: one stats aggregation, then the merge that
        rewrites the touched buckets (two passes over the cached batch).
        A batch much larger than the bucket count almost surely touches
        every bucket — skip the pruning job (safe overestimate). COW merges
        hold the lock for their whole read-modify-write (no concurrent
        COW)."""
        changes = changes.persist()
        try:
            stats = batch_stats(changes)
            if stats.n_events:
                with self._commit_lock:
                    merge_into(
                        self.spark,
                        table,
                        changes,
                        assume_all_buckets=stats.n_events
                        > 1000 * table.num_buckets,
                    )
            return stats
        finally:
            changes.unpersist()

    def apply_epoch(
        self,
        changes: DataFrame,
        epoch_id: int,
        write_tasks: int | None = None,
    ) -> EpochResult:
        """Exactly-once apply of one micro-batch: bootstrap fence, then (for
        an epoch not yet committed) the optional quarantine split and the
        MOR DataFrame writer or the COW merge. The writer's ``epoch`` is
        ``epoch_id``, whatever ``epoch`` column the batch carries.

        ``write_tasks``: writer-task count for this epoch's append job.
        Concurrent replayers pass a byte-proportional share of the cluster
        (see ``stream.replay_epochs``) so overlapped epochs split the cores
        instead of piling 2x-parallelism jobs onto the scheduler; serial
        callers leave it None and get full parallelism."""
        t0 = time.monotonic()
        changes = self._fence(changes)
        n_bad = 0

        def write(table, todo):
            nonlocal n_bad
            batch = changes
            if self.quarantine:
                batch, n_bad = self._quarantine_split(changes, epoch_id)
            if self.mode == "cow":
                return {epoch_id: self._merge_cow(table, batch)}
            return self._write_frame(
                table, batch, F.lit(epoch_id), todo,
                write_tasks or self._epoch_write_tasks,
            )

        [res] = self._apply([epoch_id], t0, lambda todo: changes, write)
        res.quarantined = n_bad
        return res
