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
kinds resume alike, and fingerprints compare only within one kind. The
row hashes and their chunk sums come from one place, the writer kernel
(`lake.table.change_batches` and the write generator it feeds); this module
only folds (`combine_chunks`) and records them.
Reference analogue: status-transition audit rows that make reprocessing
detectable (``/root/reference/app/core/document_tracking.py:307-317``).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

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
    """Everything the exactly-once + lineage machinery needs for one epoch,
    folded from the writer tasks' stats rows (`streaming.apply.epoch_stats`)
    — grouped by source partition, so the driver collects
    #source-partitions rows, never data rows."""

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
    #: rows the writer kernel diverted to the dead-letter queue
    quarantined: int = 0


def combine_chunks(parts: list[tuple[int, int, int]]) -> str:
    """Fold per-(task, source partition) chunk sums of the position hash
    (the writer splits each 64-bit row hash into 22+22+20-bit chunks and
    sums each: commutative, so stable under any partitioning, and
    duplicates do not cancel) into the fingerprint's ``h0:h1:h2``."""
    s0 = sum(p[0] for p in parts)
    s1 = sum(p[1] for p in parts)
    s2 = sum(p[2] for p in parts)
    return f"{s0}:{s1}:{s2}"


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
