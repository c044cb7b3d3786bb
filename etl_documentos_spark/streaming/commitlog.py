"""Idempotent epoch commit log — the exactly-once guard.

Structured Streaming checkpoints give at-least-once delivery into an
arbitrary sink; this commit log upgrades the lake-table sink to exactly-once:
``foreachBatch`` consults it *before* applying and records the epoch *after*
the table snapshot commits. A replayed epoch (checkpoint restart, retried
batch) is detected and skipped, so re-application is a no-op at the log layer
and — belt and braces — also a no-op at the MERGE layer (version-checked LWW).

One JSON file per epoch, written via tmp+rename (atomic on POSIX). The epoch
record carries the per-source-partition max offsets (FIXTURES.md §4) and an
order-insensitive position fingerprint: the sum of per-row
``xxhash64(source_partition, lsn)`` plus the count, stable under any
partitioning / parallelism. A binlog event is identified by its position,
which is what a binlog consumer checkpoints, so the fingerprint says WHICH
events the epoch held at two integer hashes per row; hashing every payload
column cost about half of the bulk writer's CPU. Records written before
``fingerprint_kind`` existed hold such a content fingerprint and read back
as "content"; exactly-once is decided on epoch ids and offsets only, so both
kinds resume alike, and fingerprints compare only within one kind.
Reference analogue: status-transition audit rows that make reprocessing
detectable (``/root/reference/app/core/document_tracking.py:307-317``).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fingerprint kind of new records; records without the field are "content"
FINGERPRINT_KIND = "position"


@dataclass
class CommitRecord:
    epoch_id: int
    input_fingerprint: str
    source_partition_offsets: dict[int, int]
    committed_at: float
    fingerprint_kind: str = "content"


@dataclass
class BatchStats:
    """Everything the exactly-once + lineage machinery needs, from ONE
    aggregation pass over the epoch (grouped by source partition so the
    collect is #source-partitions rows, never data rows)."""

    fingerprint: str
    offsets: dict[int, int]
    n_events: int
    #: per-source-partition (events_read, rows_upserted, rows_deleted,
    #: conv_ids_touched) for the lineage table
    lineage_rows: list[tuple[int, int, int, int, int]]
    #: max event-time in the batch, as EPOCH MICROSECONDS (int64) — the
    #: watermark source for bounded lateness (tombstone/state expiry).
    #: Kept as unix micros end-to-end so the value is independent of the
    #: Spark session timezone (naive datetimes from ``collect()`` are
    #: session-local while Arrow-side stats are UTC — mixing the two shifts
    #: the watermark by the UTC offset). None when the batch is empty or
    #: carries no ts column.
    max_ts: int | None = None


def position_hash():
    """Per-row binlog-position hash; the file writer computes it bit-equal
    in numpy (`functions.xxh64.xxh64_key`, chained) for int/long columns."""
    return F.xxhash64(F.col("source_partition"), F.col("lsn"))


def hash_chunk_exprs() -> list:
    """Order-insensitive position fingerprint as THREE plain long sums.

    It sums `position_hash`, not a payload hash: the position identifies
    the event at a fraction of the cost of hashing every column.

    The 64-bit row hash is split into 22+22+20-bit chunks and each chunk is
    summed: commutative (stable under any partitioning/parallelism),
    multiplicity-preserving (duplicates don't cancel, unlike XOR), and
    overflow-safe under ANSI mode up to ~2x10^12 rows per batch — all in
    whole-stage-codegen long arithmetic. A decimal(38,0) sum is semantically
    equivalent but allocates a Decimal object per row, and at 16-32 threads
    the resulting GC churn dominates the job (measured 2.6x CPU inflation).
    """
    h = position_hash()
    return [
        F.sum(h.bitwiseAND(F.lit(0x3FFFFF))).alias("h0"),
        F.sum(
            F.shiftrightunsigned(h, 22).bitwiseAND(F.lit(0x3FFFFF))
        ).alias("h1"),
        F.sum(F.shiftrightunsigned(h, 44)).alias("h2"),
    ]


def combine_chunks(parts: list[tuple[int, int, int]]) -> str:
    s0 = sum(p[0] for p in parts)
    s1 = sum(p[1] for p in parts)
    s2 = sum(p[2] for p in parts)
    return f"{s0}:{s1}:{s2}"


def batch_stats(changes: DataFrame) -> BatchStats:
    """Single partial-aggregatable pass: position fingerprint (order-
    insensitive chunked long sums of row hashes — stable under any
    partitioning), per-partition max offsets, and the lineage counters."""
    has_ts = "ts" in changes.columns
    # unix_micros reads the internal UTC-micros value directly — immune to
    # the session-timezone round trip a timestamp collect() would take
    ts_expr = (
        F.max(F.unix_micros("ts"))
        if has_ts
        else F.max(F.lit(None).cast("long"))
    )
    rows = (
        changes.groupBy("source_partition")
        .agg(
            *hash_chunk_exprs(),
            F.count("*").alias("n"),
            F.max("lsn").alias("max_lsn"),
            ts_expr.alias("max_ts"),
            F.sum(F.when(F.col("op") != "delete", 1).otherwise(0)).alias("up"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("del"),
            F.approx_count_distinct("conv_id").alias("convs"),
        )
        .collect()
    )
    total_h = combine_chunks(
        [(int(r["h0"]), int(r["h1"]), int(r["h2"])) for r in rows]
    )
    n = sum(int(r["n"]) for r in rows)
    offsets = {int(r["source_partition"]): int(r["max_lsn"]) for r in rows}
    lineage = [
        (
            int(r["source_partition"]),
            int(r["n"]),
            int(r["up"]),
            int(r["del"]),
            int(r["convs"]),
        )
        for r in rows
    ]
    ts_vals = [int(r["max_ts"]) for r in rows if r["max_ts"] is not None]
    return BatchStats(
        f"{total_h}:{n}", offsets, n, lineage,
        max_ts=max(ts_vals) if ts_vals else None,
    )


def observe_exprs(columns: list[str], n_source_partitions: int) -> list:
    """Aggregate expressions for a zero-extra-pass stats collection.

    Attached via ``Dataset.observe`` to the epoch's single write job, these
    compute the same content as `batch_stats` — global fingerprint + count,
    and per-source-partition offsets/lineage counters as conditional
    aggregates (the partition count of a binlog/Kafka source is a known,
    small source property, so enumerating it statically is safe; a guard
    metric ``max_sp`` catches violations).
    """
    sp = F.col("source_partition")
    ts_expr = (
        F.max(F.unix_micros(F.col("ts")))
        if "ts" in columns
        else F.max(F.lit(None).cast("long"))
    )
    exprs = [
        F.count(F.lit(1)).alias("n"),
        *hash_chunk_exprs(),
        F.max(sp).alias("max_sp"),
        ts_expr.alias("max_ts"),
    ]
    for p in range(n_source_partitions):
        is_p = sp == p
        exprs += [
            F.max(F.when(is_p, F.col("lsn"))).alias(f"off_{p}"),
            F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n_{p}"),
            F.sum(F.when(is_p & (F.col("op") != "delete"), 1).otherwise(0)).alias(
                f"up_{p}"
            ),
            F.sum(F.when(is_p & (F.col("op") == "delete"), 1).otherwise(0)).alias(
                f"del_{p}"
            ),
            F.approx_count_distinct(F.when(is_p, F.col("conv_id"))).alias(
                f"convs_{p}"
            ),
        ]
    return exprs


def stats_from_observation(m: dict, n_source_partitions: int) -> BatchStats:
    """Decode `observe_exprs` results into a BatchStats."""
    n = int(m["n"] or 0)
    if n == 0:
        return BatchStats("0:0:0:0", {}, 0, [])
    max_ts = m.get("max_ts")
    if max_ts is not None:
        max_ts = int(max_ts)
    if int(m["max_sp"]) >= n_source_partitions:
        raise ValueError(
            f"source_partition {m['max_sp']} >= declared n_source_partitions "
            f"{n_source_partitions}"
        )
    offsets, lineage = {}, []
    for p in range(n_source_partitions):
        if m[f"n_{p}"] and int(m[f"n_{p}"]) > 0:
            offsets[p] = int(m[f"off_{p}"])
            lineage.append(
                (p, int(m[f"n_{p}"]), int(m[f"up_{p}"]), int(m[f"del_{p}"]),
                 int(m[f"convs_{p}"]))
            )
    fp = combine_chunks([(int(m["h0"]), int(m["h1"]), int(m["h2"]))])
    return BatchStats(f"{fp}:{n}", offsets, n, lineage, max_ts=max_ts)


class CommitLog:
    """One JSON record per epoch, plus an optional rolled-up high-water-mark
    record (``hwm.json``) that summarizes a CONTIGUOUS prefix of committed
    epochs. At 10^6+ epochs, reading every per-epoch file on the driver is
    the wrong shape — ``compact_log`` folds old records into the HWM (min/max
    epoch + per-partition max offsets) and deletes them; only the recent tail
    stays as individual files. Contiguity is what keeps the roll-up safe: an
    epoch id inside [hwm.min, hwm.max] is provably committed, and ids outside
    the range still go through the per-file check."""

    _HWM = "hwm.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _compact_lock(self):
        """Exclusive cross-process (and cross-thread: each entry opens its
        own file description) flock serializing the HWM read-modify-write.
        ``compact_log`` runs from concurrent pipeline threads and from
        multiple processes sharing one workdir (fleet mode); an unlocked
        RMW could publish an HWM that has lost another compactor's
        coverage, making ``is_committed`` return False for epochs whose
        per-file records that compactor already deleted — an exactly-once
        break. Same flock pattern as ``LakeTable._process_commit_lock``."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def lock():
            fd = os.open(
                os.path.join(self.root, ".compact.lock"),
                os.O_CREAT | os.O_RDWR,
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return lock()

    def _path(self, epoch_id: int) -> str:
        return os.path.join(self.root, f"commit-{epoch_id:012d}.json")

    def _hwm(self) -> dict | None:
        p = os.path.join(self.root, self._HWM)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_committed(self, epoch_id: int) -> bool:
        hwm = self._hwm()
        if hwm is not None and hwm["min_epoch"] <= epoch_id <= hwm["max_epoch"]:
            return True
        return os.path.exists(self._path(epoch_id))

    def compact_log(self, keep_last: int = 256) -> int:
        """Roll all but the newest ``keep_last`` per-epoch records into the
        high-water-mark record; returns how many files were removed.

        Only the contiguous run starting at the oldest rollable epoch (or
        extending the existing HWM) is folded — a gap stops the roll-up, so
        a never-committed epoch id can never be claimed as committed.

        The whole fold (HWM read → extend → rewrite → delete) runs under an
        exclusive flock, and the HWM is only ever EXTENDED from the value
        re-read under that lock — coverage can never go backwards even
        across processes.
        """
        with self._compact_lock():
            return self._compact_log_locked(keep_last)

    def _compact_log_locked(self, keep_last: int) -> int:
        ids = sorted(
            int(fn[len("commit-"):-len(".json")])
            for fn in os.listdir(self.root)
            if fn.startswith("commit-") and fn.endswith(".json")
        )
        if len(ids) <= keep_last:
            return 0
        # keep_last=0 rolls everything (ids[:-0] would be empty, not all)
        rollable = ids[:-keep_last] if keep_last > 0 else ids
        if not rollable:
            return 0
        hwm = self._hwm()
        if hwm is None:
            hwm = {
                "min_epoch": rollable[0],
                "max_epoch": rollable[0] - 1,
                "offsets": {},
                "n_epochs": 0,
            }
        rolled = 0
        offsets = {int(k): v for k, v in hwm["offsets"].items()}
        for e in rollable:
            if e <= hwm["max_epoch"]:
                # already covered (crash between delete and rewrite)
                pass
            elif e == hwm["max_epoch"] + 1:
                rec = self.get(e)
                for k, v in rec.source_partition_offsets.items():
                    offsets[k] = max(offsets.get(k, -1), v)
                hwm["max_epoch"] = e
                hwm["n_epochs"] += 1
            else:
                break  # gap: stop, later ids stay as files
        hwm["offsets"] = {str(k): v for k, v in offsets.items()}
        tmp = os.path.join(self.root, self._HWM + ".tmp")
        with open(tmp, "w") as f:
            json.dump(hwm, f)
        os.replace(tmp, os.path.join(self.root, self._HWM))
        # delete only after the HWM durably covers them
        for e in rollable:
            if e <= hwm["max_epoch"]:
                try:
                    os.remove(self._path(e))
                    rolled += 1
                except FileNotFoundError:
                    pass
        return rolled

    def get(self, epoch_id: int) -> CommitRecord | None:
        """Per-epoch commit record; None when never committed.

        An epoch whose per-file record has been rolled into the HWM by
        ``compact_log`` is still committed (``is_committed`` is True via
        the HWM range) but its per-epoch fingerprint/offsets are gone —
        for those, return a synthetic record (fingerprint ``"<rolled>"``,
        offsets ``{}``, committed_at 0.0) instead of crashing on the
        deleted file. Callers needing offsets should use ``max_offsets``,
        which folds the HWM in.
        """
        p = self._path(epoch_id)
        if not os.path.exists(p):
            hwm = self._hwm()
            if (
                hwm is not None
                and hwm["min_epoch"] <= epoch_id <= hwm["max_epoch"]
            ):
                return CommitRecord(epoch_id, "<rolled>", {}, 0.0)
            return None
        with open(p) as f:
            d = json.load(f)
        return CommitRecord(
            d["epoch_id"],
            d["input_fingerprint"],
            {int(k): v for k, v in d["source_partition_offsets"].items()},
            d["committed_at"],
            d.get("fingerprint_kind", "content"),
        )

    def commit(
        self,
        epoch_id: int,
        input_fingerprint: str,
        offsets: dict[int, int],
    ) -> None:
        rec = {
            "epoch_id": epoch_id,
            "input_fingerprint": input_fingerprint,
            "fingerprint_kind": FINGERPRINT_KIND,
            "source_partition_offsets": offsets,
            "committed_at": time.time(),
        }
        tmp = self._path(epoch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._path(epoch_id))

    def max_offsets(self) -> dict[int, int]:
        """High-water mark per source partition across all committed epochs
        (seeded from the rolled-up HWM record, then the recent tail files)."""
        out: dict[int, int] = {}
        hwm = self._hwm()
        if hwm is not None:
            out = {int(k): v for k, v in hwm["offsets"].items()}
        for fn in os.listdir(self.root):
            if not (fn.startswith("commit-") and fn.endswith(".json")):
                continue
            with open(os.path.join(self.root, fn)) as f:
                d = json.load(f)
            for k, v in d["source_partition_offsets"].items():
                k = int(k)
                out[k] = max(out.get(k, -1), v)
        return out
