"""CdcPipeline — the exactly-once apply of change epochs.

Per epoch (micro-batch):

1. commit-log guard: skip if this epoch already committed (restart replay);
2. fingerprint + per-source-partition offsets (one agg pass);
3. additive schema evolution if the batch carries new columns;
4. LWW dedup -> version-checked key-partitioned MERGE into the lake table;
5. append per-source-partition lineage rows and one epoch metrics row;
6. write the commit record (atomic rename) — the epoch is now durable.

Entry points and their writers:

- ``apply_epochs_bulk_files``: MOR epochs as local parquet files; writer
  tasks read them with pyarrow (``write_change_files_direct``), so no row
  crosses the JVM→Python Arrow socket. ``stream.replay_epochs`` (one epoch
  per call) and ``stream.replay_bulk`` (all at once) use it for every
  local MOR epoch without quarantine.
- ``apply_epoch``: one epoch as a DataFrame (``write_data_files_direct``
  for MOR, ``merge_into`` for COW) — the only route for inputs that are
  not local files (foreachBatch, synthetic sources, bootstrap, ``://``
  paths), for COW (the merge rewrites touched buckets) and for quarantine
  (the validity split is a DataFrame filter). Only this route checks
  source partitions against ``n_source_partitions``
  (``stats_from_observation``): the file route does not enumerate them.
- ``apply_epochs_bulk``: many epochs as one DataFrame (``replay_bulk``'s
  remote-path fallback).

The MOR appends share one stage/commit/restage-on-spec-conflict loop
(``_stage_and_append``); all routes share one log roll-up (``_roll_log``).

Crash-safety ordering: the table snapshot commit (step 4) lands before the
commit record (step 6). A crash between them leaves a committed snapshot and
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark.lake.table import LakeTable, SpecConflictError
from etl_documentos_spark.operators.evolve import evolve_if_needed
from etl_documentos_spark.operators.merge import compact, merge_into, merge_mor
from etl_documentos_spark.streaming.commitlog import (
    CommitLog,
    batch_stats,
    combine_chunks,
    observe_exprs,
    position_hash,
    stats_from_observation,
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


#: table property holding the snapshot-bootstrap log position (see
#: ``CdcPipeline.bootstrap``)
BOOTSTRAP_WM_PROP = "bootstrap.watermark-lsn"


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

    ``n_source_partitions``: when set (the partition count of the binlog /
    Kafka source — a known source property), epoch stats are collected as
    observed metrics on the write job itself: ONE pass per epoch, no persist.
    When None, a separate stats aggregation runs first (two passes).
    """

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        workdir: str,
        mode: str = "mor",
        compact_at_files: int = 64,
        n_source_partitions: int | None = 8,
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
        self.n_source_partitions = n_source_partitions
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
        #: cached observe expressions (rebuilt only when the batch column
        #: set changes — expression construction is driver-side py4j cost)
        self._obs_exprs: tuple[tuple[str, ...], list] | None = None
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

    def _observe_exprs_for(self, columns: list[str]) -> list:
        key = tuple(columns)
        if self._obs_exprs is None or self._obs_exprs[0] != key:
            self._obs_exprs = (
                key,
                observe_exprs(columns, self.n_source_partitions),
            )
        return self._obs_exprs[1]

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
        n_parts = self.n_source_partitions or 8
        payload = [c for c in snapshot.columns if c not in ("conv_id",)]
        changes = snapshot.select(
            F.lit("insert").alias("op"),
            F.col("conv_id"),
            *[F.col(c) for c in payload],
            F.lit(wm).cast("long").alias("lsn"),
            F.pmod(F.xxhash64("conv_id"), F.lit(n_parts))
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

    def apply_epochs_bulk(
        self, changes: DataFrame, epoch_ids: list[int], persist: bool = True
    ) -> list[EpochResult]:
        """Backfill mode: apply MANY epochs as one super-batch.

        A 10^10-event replay is a catch-up backfill — paying the per-epoch
        serial cost (plan analysis, job scheduling, snapshot commit) once per
        micro-batch would make the driver the bottleneck. Bulk mode applies K
        epochs with ONE stats aggregation (grouped by epoch x source
        partition), ONE append job, and K commit records, preserving the
        exactly-once contract per epoch: already-committed epochs are
        filtered out up front, fingerprints/offsets/lineage stay per-epoch.

        ``changes`` must carry an ``epoch`` column; MOR mode only (the
        reduction happens at read/compaction, so epochs need no ordering
        barrier between them — LWW is order-insensitive by construction).

        ``persist=False`` skips caching the batch between the stats pass and
        the append pass — correct whenever ``changes`` re-reads identical
        bytes (immutable files, a pinned snapshot); re-scanning page-cached
        parquet is cheaper than materializing deserialized rows. Keep the
        default for non-deterministic or remote sources, where the
        fingerprint and the written rows must come from one materialization.
        """
        assert self.mode == "mor", "bulk backfill requires merge-on-read"
        t0 = time.monotonic()
        # same snapshot-bootstrap fence as apply_epoch (see there)
        wm = self.bootstrap_watermark
        if wm is not None:
            changes = changes.filter(F.col("lsn") > F.lit(wm))
        todo = [e for e in epoch_ids if not self.commitlog.is_committed(e)]
        skipped = [
            EpochResult(e, True, 0, 0.0, []) for e in epoch_ids if e not in todo
        ]
        if not todo:
            return skipped
        batch = changes.filter(F.col("epoch").isin(todo))
        if persist:
            batch = batch.persist()
        try:
            table = self.table
            added = evolve_if_needed(batch, table)

            from etl_documentos_spark.operators.merge import physical_exprs

            # SINGLE heavy pass: the Arrow writer aggregates fingerprint
            # chunks + lineage counters per (epoch, source_partition) inline
            # (lake.table._write_data_direct stats mode). The row hash is
            # the same JVM-side position hash the per-epoch path sums, so
            # cross-path fingerprints agree.
            # The distinct-conversation counter rides the same pass as a
            # per-task HyperLogLog over xxhash64(conv_id) (_ch sidecar),
            # merged register-wise here — the old concurrent
            # approx_count_distinct job re-decoded 3 columns of the whole
            # batch; at N executors that second scan is pure memory-bandwidth
            # overhead, so folding it into the write pass buys scaling.
            aug = batch.select(
                *physical_exprs(batch, table.schema),
                position_hash().alias("_h"),
                F.xxhash64(F.col("conv_id")).alias("_ch"),
                F.col("epoch").cast("int").alias("epoch"),
                F.col("source_partition").cast("int").alias(
                    "source_partition"
                ),
            )

            stat_rows = self._stage_and_append(
                table, lambda t: t.write_data_files_direct(aug, stats=True)
            )
            return skipped + self._finalize_bulk(stat_rows, todo, t0, added)
        finally:
            if persist:
                batch.unpersist()

    def _stage_and_append(self, table: LakeTable, stage):
        """Write data files with ``stage(table) -> (files, stat_rows,
        man_stats)`` outside the lock, then commit them as one append
        under it; returns the committed staging's ``stat_rows``.

        A concurrent split/rebucket that re-keyed the buckets between the
        two steps fails the commit with ``SpecConflictError``: restage
        under the fresh transform (the stats re-derive deterministically
        from the same batch), at most 5 times."""
        for _ in range(5):
            spec = table.spec_fingerprint()
            files, stat_rows, man_stats = stage(table)
            if not files:
                return stat_rows
            try:
                # manifest stats came inline from the write tasks when the
                # table opted in; nothing extra on the default path
                with self._commit_lock:
                    self.table.commit_append(
                        files, staged_spec=spec, new_stats=man_stats
                    )
                return stat_rows
            except SpecConflictError:
                table = self.table
        raise SpecConflictError("spec kept changing across 5 retries")

    def _roll_log(self, epochs: list[int]) -> None:
        """Amortized commit-log roll-up, once per 256 epoch ids: keeps the
        commit dir (and restart-time max_offsets scans) bounded at millions
        of epochs without a directory listing on every apply."""
        if any(e % 256 == 0 for e in epochs):
            self.commitlog.compact_log(self.commitlog_keep_last)

    def _finalize_bulk(
        self, stat_rows: list, todo: list[int], t0: float, added: list[str]
    ) -> list[EpochResult]:
        """Shared bulk-apply bookkeeping: watermark advance, threshold
        compaction, HLL merge, and the per-epoch exactly-once records
        (lineage, metrics, fingerprinted commit) from the writer's stats
        rows. ``stat_rows``: the writer's "s"/"l" rows (pyspark Rows or
        dicts — both index by name)."""
        sketch_rows = [r for r in stat_rows if r["kind"] == "l"]
        stat_rows = [r for r in stat_rows if r["kind"] == "s"]
        for r in stat_rows:
            self._advance_watermark(r["max_ts"])
        self._maybe_compact(self.table)

        convs = merge_hll_counts(sketch_rows)
        per_epoch: dict[int, list] = {}
        for r in stat_rows:
            per_epoch.setdefault(int(r["epoch"]), []).append(r)
        results = []
        duration = time.monotonic() - t0
        for e in sorted(todo):
            ers = per_epoch.get(e, [])
            n = sum(int(r["n"]) for r in ers)
            fp = combine_chunks(
                [(int(r["h0"]), int(r["h1"]), int(r["h2"])) for r in ers]
            ) + f":{n}"
            # every writer TASK emits a partial per (epoch, sp) it saw —
            # combine partials: max for offsets, sum for counters
            offsets: dict[int, int] = {}
            per_sp: dict[int, list[int]] = {}
            for r in ers:
                sp = int(r["sp"])
                offsets[sp] = max(
                    offsets.get(sp, -1), int(r["max_lsn"])
                )
                agg = per_sp.setdefault(sp, [0, 0])
                agg[0] += int(r["n"])
                agg[1] += int(r["ndel"])
            lineage = [
                (
                    sp,
                    n_sp,
                    n_sp - ndel_sp,
                    ndel_sp,
                    convs.get((e, sp), 0),
                )
                for sp, (n_sp, ndel_sp) in sorted(per_sp.items())
            ]
            append_lineage_rows(self.spark, self.lineage_path, e, lineage)
            append_metrics(
                self.spark, self.metrics_path, e,
                events=n, duration_s=duration / max(len(todo), 1),
                lag_events=0,
            )
            self.commitlog.commit(e, fp, offsets)
            results.append(EpochResult(e, False, n, duration, added))
        self._roll_log(todo)
        return results

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
        MOR mode only, like all bulk paths.
        """
        assert self.mode == "mor", "bulk backfill requires merge-on-read"
        t0 = time.monotonic()
        wm = self.bootstrap_watermark
        # ``epochs`` widens the commit set beyond the files: an epoch
        # with ZERO files (an external writer's empty epoch directory)
        # must still commit its empty fingerprint, exactly as the
        # DataFrame path does — otherwise the commit-log gap stalls the
        # contiguous HWM roll-up forever and the epoch re-processes on
        # every future replay
        epoch_ids = sorted({e for _, e in file_epochs} | set(epochs or []))
        todo = [e for e in epoch_ids if not self.commitlog.is_committed(e)]
        todo_set = set(todo)
        todo_pairs = [(f, e) for f, e in file_epochs if e in todo_set]
        skipped = [
            EpochResult(e, True, 0, 0.0, [])
            for e in epoch_ids
            if e not in todo_set
        ]
        if not todo_pairs:
            if not todo:
                return skipped
            # only empty epochs to commit: no files to write, no schema
            # evolution to consider — straight to the per-epoch records
            return skipped + self._finalize_bulk([], todo, t0, [])
        if schema is None:
            schema = _union_footer_schema(todo_pairs)
        with self._commit_lock:
            table = self.table
            added = evolve_if_needed(
                self.spark.createDataFrame([], schema), table
            )
        stat_rows = self._stage_and_append(
            table,
            lambda t: t.write_change_files_direct(
                self.spark, todo_pairs, fence_lsn=wm, target_tasks=target_tasks,
            ),
        )
        return skipped + self._finalize_bulk(stat_rows, todo, t0, added)

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

    def apply_epoch(
        self,
        changes: DataFrame,
        epoch_id: int,
        write_tasks: int | None = None,
    ) -> EpochResult:
        """Exactly-once apply of one micro-batch.

        ``write_tasks``: writer-task count for this epoch's append job.
        Concurrent replayers pass a byte-proportional share of the cluster
        (see ``stream.replay_epochs``) so overlapped epochs split the cores
        instead of piling 2x-parallelism jobs onto the scheduler; serial
        callers leave it None and get full parallelism."""
        t0 = time.monotonic()
        if self.commitlog.is_committed(epoch_id):
            return EpochResult(epoch_id, True, 0, 0.0, [])
        write_tasks = write_tasks or self._epoch_write_tasks

        # snapshot-bootstrap handoff: events at or before the snapshot's
        # log position are already in the table state and must not replay
        # (a pre-snapshot insert would resurrect a pre-snapshot delete).
        # Plain attribute check when no bootstrap happened; when set, a
        # pushed-down range predicate that prunes pre-watermark files.
        wm = self.bootstrap_watermark
        if wm is not None:
            changes = changes.filter(F.col("lsn") > F.lit(wm))

        n_bad = 0
        if self.quarantine:
            changes, n_bad = self._quarantine_split(changes, epoch_id)

        with self._commit_lock:
            table = self.table
            added = evolve_if_needed(changes, table)

        if self.mode == "mor" and self.n_source_partitions:
            # single-pass path: the append write job carries the stats as
            # observed metrics — one scan of the batch per epoch, no persist.
            # The write job runs OUTSIDE the commit lock (concurrent epochs
            # overlap on the executors); only the metadata commit serializes.
            from pyspark.sql import Observation

            from etl_documentos_spark.operators.merge import changes_to_physical

            obs = Observation()
            observed = changes.observe(
                obs, *self._observe_exprs_for(changes.columns)
            )
            # only the first staging carries the observed stats; a restage
            # after a spec conflict rewrites the files from the plain batch
            source = iter([observed])

            def stage(t: LakeTable):
                files, man_stats = t.write_data_files_direct(
                    changes_to_physical(next(source, changes), t.schema),
                    target_tasks=write_tasks,
                )
                return files, None, man_stats

            self._stage_and_append(table, stage)
            stats = stats_from_observation(obs.get, self.n_source_partitions)
            self._advance_watermark(stats.max_ts)
            if stats.n_events > 0:
                self._maybe_compact(self.table)
        else:
            # two-pass path: explicit stats aggregation, then the merge
            changes = changes.persist()
            try:
                stats = batch_stats(changes)
                self._advance_watermark(stats.max_ts)
                if stats.n_events > 0:
                    if self.mode == "mor":
                        with self._commit_lock:
                            merge_mor(
                                self.spark, self.table, changes,
                                target_tasks=write_tasks,
                            )
                        self._maybe_compact(self.table)
                    else:
                        # a batch much larger than the bucket count almost
                        # surely touches every bucket — skip the pruning job
                        # (safe overestimate). COW merges hold the lock for
                        # their whole read-modify-write (no concurrent COW).
                        with self._commit_lock:
                            merge_into(
                                self.spark,
                                self.table,
                                changes,
                                assume_all_buckets=stats.n_events
                                > 1000 * table.num_buckets,
                            )
            finally:
                changes.unpersist()

        if stats.n_events == 0:
            self.commitlog.commit(epoch_id, stats.fingerprint, stats.offsets)
            return EpochResult(
                epoch_id, False, 0, time.monotonic() - t0, added, n_bad
            )

        # lineage rows come from the collected stats (no second agg job)
        append_lineage_rows(
            self.spark, self.lineage_path, epoch_id, stats.lineage_rows
        )

        duration = time.monotonic() - t0
        append_metrics(
            self.spark,
            self.metrics_path,
            epoch_id,
            events=stats.n_events,
            duration_s=duration,
            lag_events=0,
        )

        self.commitlog.commit(epoch_id, stats.fingerprint, stats.offsets)
        self._roll_log([epoch_id])
        return EpochResult(
            epoch_id, False, stats.n_events, time.monotonic() - t0, added,
            n_bad,
        )
