"""CdcPipeline — the exactly-once apply of change epochs.

Every route runs one core, ``CdcPipeline._apply``, over a set of epochs:

1. commit-log guard: skip the epochs already committed (restart replay);
2. additive schema evolution if the batch carries new columns;
3. the route's feeder stages the epochs' rows, the table commits them, and
   the writer's stats rows fold into one `BatchStats` per epoch (position
   fingerprint, per-source-partition offsets, lineage counters, max event
   time, quarantined rows);
4. watermark advance and compaction, once per call: MOR compacts buckets
   past the file threshold, COW every bucket the staging wrote;
5. per epoch, ``_record``: lineage rows, one metrics row, then the commit
   record (atomic rename) — the epoch is now durable.

An epoch without rows takes the same steps: it commits the empty
fingerprint ``0:0:0:0`` next to an empty lineage file and a zero-event
metrics row.

Routes and their feeders. Every route stages rows through the one
change-batch kernel (`lake.table.change_batches`: quarantine mask, bootstrap
fence, projection, position and key hashes, bucket), fed two ways:

- ``apply_epochs_bulk_files``: epochs as local parquet files, read with
  pyarrow (``write_change_files_direct``) so no row crosses the
  JVM→Python Arrow socket: in the driver when they total at most Spark's
  ``spark.sql.files.openCostInBytes``, else in Spark tasks.
  ``stream.replay_epochs`` (one epoch per call) and ``stream.replay_bulk``
  (all at once) use it for every local epoch.
- ``apply_epoch``: one epoch as a DataFrame — the route for inputs that are
  not local files (foreachBatch, synthetic sources, bootstrap, ``://``
  paths); ``apply_epochs_bulk``: many epochs as one DataFrame with an
  ``epoch`` column (``replay_bulk``'s route for ``://`` paths). Both feed
  the kernel from ``mapInArrow`` (``write_data_files_direct``).

Both feeders emit the same per-(epoch, source partition) stats rows,
folded by ``epoch_stats``, and commit through the table's one stage →
commit → restage-on-spec-conflict loop (`LakeTable.append_staged`).
``mode="cow"`` is the same append followed by a compaction of every bucket
the staging wrote. With quarantine on, the kernel writes invalid rows to
``dlq/epoch=N`` and their count rides the stats rows into
``EpochResult.quarantined``.

Crash-safety ordering: the table snapshot commit (step 3) lands before the
commit record (step 5). A crash between them leaves a committed snapshot and
no commit record; on replay the epoch re-applies, and the read-time LWW
(version-checked on ``(ts, lsn)``) makes that re-application a no-op for
readers. Reference analogue of the lifecycle: insert ``processando`` ->
update ``concluido``/``erro`` + audit rows
(``/root/reference/app/services/document_processor.py:126-143, 205-218,
615-631``).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.evolve import evolve_if_needed
from etl_documentos_spark.operators.merge import compact
from etl_documentos_spark.streaming.commitlog import (
    BatchStats,
    CommitLog,
    combine_chunks,
)
from etl_documentos_spark.streaming.lineage import (
    append_lineage_rows,
    append_metrics,
)


def merge_hll_counts(sketch_rows) -> dict[tuple[int, int], int]:
    """Merge per-task HyperLogLog register rows (``kind="l"`` from the
    change feeders' writer tasks) into per-(epoch,
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
    """Fold the change feeders' stats rows into one `BatchStats` per epoch.

    ``stat_rows``: the writer's "s" rows (one partial per task and
    (epoch, source partition): max for offsets, sum for counters), "l"
    rows (HyperLogLog registers, merged by `merge_hll_counts`) and "q" rows
    (quarantined rows per task and epoch); pyspark Rows or dicts — both
    index by name. An epoch of ``epochs`` without rows gets the empty stats
    (fingerprint ``0:0:0:0``)."""
    convs = merge_hll_counts(r for r in stat_rows if r["kind"] == "l")
    per_epoch: dict[int, list] = {e: [] for e in epochs}
    quarantined = dict.fromkeys(epochs, 0)
    for r in stat_rows:
        if r["kind"] == "s":
            per_epoch[int(r["epoch"])].append(r)
        elif r["kind"] == "q":
            quarantined[int(r["epoch"])] += int(r["n"])
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
            quarantined=quarantined[e],
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
    - ``"cow"``: copy-on-write — every epoch appends like MOR, then
      compacts every bucket it touched, so each bucket holds one reduced
      row per key after every epoch. Read-optimal, write-amplified.
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
        #: would silently upsert). Opt-in — the writer kernel's validity
        #: mask costs a few null checks per batch. Schema-LEVEL drift (type
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
                # a logical overwrite/rollback broke the incremental feed:
                # resync from a full read — correct always, incremental
                # only when the source allows it
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
        stale insert would win against nothing). The writer kernel applies
        the filter to every batch before projection.

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

    def _apply(
        self, epoch_ids: list[int], t0: float, frame, feed
    ) -> list[EpochResult]:
        """The exactly-once apply every route runs (module docstring steps).

        ``frame(todo)``: the DataFrame whose columns drive schema evolution
        for the epochs still to apply, or None when no row will be written.
        ``feed(table, todo, fence_lsn=…, dlq=…)``: one change feeder staging
        those epochs' rows under ``table``'s spec; returns ``(files,
        stat_rows, manifest_stats)``. Each staging first clears the epochs'
        DLQ directories, so a restage or a crash-replay rewrites the DLQ
        instead of doubling it."""
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
        touched: list[int] = []

        def stage(t: LakeTable):
            if self.quarantine:
                for e in todo:
                    shutil.rmtree(
                        os.path.join(self.dlq_path, f"epoch={e}"),
                        ignore_errors=True,
                    )
            staged = feed(
                t, todo,
                fence_lsn=self.bootstrap_watermark,
                dlq=self.dlq_path if self.quarantine else None,
            )
            touched[:] = sorted(int(b) for b in staged[0])
            return staged

        _, rows = table.append_staged(
            stage, lock=self._commit_lock, commit_empty=False
        )
        stats = epoch_stats(rows, todo)
        for st in stats.values():
            self._advance_watermark(st.max_ts)
        self._maybe_compact(table, touched)
        duration = time.monotonic() - t0
        for e in sorted(todo):
            self._record(e, stats[e], duration / len(todo))
            results.append(
                EpochResult(
                    e, False, stats[e].n_events, duration, added,
                    stats[e].quarantined,
                )
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

        ``changes`` must carry an ``epoch`` column. The reduction happens
        at read/compaction time, so epochs need no ordering barrier between
        them — LWW is order-insensitive by construction.
        """
        t0 = time.monotonic()
        return self._apply(
            epoch_ids,
            t0,
            lambda todo: changes,
            lambda t, todo, **kw: t.write_data_files_direct(
                changes.filter(F.col("epoch").isin(todo)), **kw
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
        lineage; committed epochs skipped up front), but the listed files
        are read DIRECTLY with pyarrow and run through the change-batch
        kernel (`lake.table.write_change_files_direct`): in the driver
        for an input of at most one Spark file-open cost
        (``spark.sql.files.openCostInBytes``), such as one tail epoch,
        else in Spark tasks. Either way the batch never crosses the
        JVM→Python Arrow socket and the JVM never decodes it. Fingerprints
        and stats rows equal the DataFrame routes' (same kernel), so a
        backfill started here and resumed through `apply_epochs_bulk` (or
        vice versa) dedups correctly.

        ``file_epochs``: (parquet path, epoch id) pairs — an epoch may span
        many files. ``schema``: the declared change-stream schema (drives
        schema evolution); derived from
        the files' footers (union over one footer per epoch) when omitted.
        ``epochs`` widens the commit set beyond the files: an epoch with
        ZERO files (an external writer's empty epoch directory) must still
        commit its empty fingerprint, otherwise the commit-log gap stalls
        the contiguous HWM roll-up forever and the epoch re-processes on
        every future replay.
        """
        t0 = time.monotonic()
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

        def feed(t, todo, **kw):
            todo_pairs = pairs(todo)
            if not todo_pairs:
                return {}, [], None
            return t.write_change_files_direct(
                self.spark, todo_pairs, target_tasks=target_tasks, **kw
            )

        return self._apply(epoch_ids, t0, frame, feed)

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

    def _maybe_compact(self, table: LakeTable, touched: list[int]) -> None:
        """Compact after a staging. MOR: the buckets whose delta-file count
        exceeds the threshold — bounds read amplification; amortized
        O(table/epochs) instead of COW's O(touched slice) per epoch. COW:
        every bucket the staging wrote (``touched``). Tombstones older than
        the lateness watermark are expired in the same rewrite.

        The in-process commit lock avoids duplicate compaction work between
        threads; cross-process safety comes from ``commit_overwrite``'s
        expected-files merge (a racing append survives as a delta file).
        """

        def due(t: LakeTable) -> list[int]:
            if self.mode == "cow":
                return touched
            return [
                int(b)
                for b, fs in t.current_snapshot.files.items()
                if len(fs) > self.compact_at_files
            ]

        if due(table):
            with self._commit_lock:
                fresh = self.table  # recheck under the lock (another thread
                # may have compacted these buckets already)
                hot = due(fresh)
                if hot:
                    compact(
                        self.spark,
                        fresh,
                        buckets=hot,
                        expire_tombstones_before=self.tombstone_expiry,
                    )

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

    def apply_epoch(
        self,
        changes: DataFrame,
        epoch_id: int,
        write_tasks: int | None = None,
    ) -> EpochResult:
        """Exactly-once apply of one micro-batch through the DataFrame
        feeder (`LakeTable.write_data_files_direct`); the kernel fences,
        quarantines and hashes. The writer's ``epoch`` is ``epoch_id``,
        whatever ``epoch`` column the batch carries.

        ``write_tasks``: writer-task count for this epoch's append job.
        Concurrent replayers pass a byte-proportional share of the cluster
        (see ``stream.replay_epochs``) so overlapped epochs split the cores
        instead of piling 2x-parallelism jobs onto the scheduler; serial
        callers leave it None and get full parallelism."""
        t0 = time.monotonic()
        [res] = self._apply(
            [epoch_id],
            t0,
            lambda todo: changes,
            lambda t, todo, **kw: t.write_data_files_direct(
                changes,
                epoch=epoch_id,
                target_tasks=write_tasks or self._epoch_write_tasks,
                **kw,
            ),
        )
        return res
