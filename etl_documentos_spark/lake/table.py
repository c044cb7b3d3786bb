"""LakeTable — an Iceberg-style table format over parquet, built from scratch.

Layout on disk::

    <root>/
      version-hint.text            # current metadata version (atomic pointer)
      metadata/v{N:06d}.json       # schema, partition spec, snapshots, manifest
      data/snap-{id}/b={K}/*.parquet

Design points (all mirroring public Iceberg semantics):

- **Atomic commits**: each mutation writes a new immutable metadata file and
  then atomically swaps ``version-hint.text`` (os.replace). Readers resolve
  the hint, then read that metadata — never a torn state. Single-writer.
- **Bucket partitioning**: rows are assigned ``bucket = pmod(xxhash64(conv_id),
  num_buckets)``; the manifest maps bucket -> data files, so a MERGE that
  touches 3 buckets reads and rewrites only those buckets' files (partition
  pruning + copy-on-write, the scale-critical property at 10^10 events).
- **Additive schema evolution without rewrite**: ``add_columns`` only writes
  new metadata; old data files stay. Scans read with the *current* schema by
  name, so columns missing from old files come back null (parquet
  read-by-name), exactly like Iceberg's add-column.
- **Snapshots / time travel**: every snapshot keeps its own file manifest;
  ``scan(snapshot_id=...)`` reads any retained snapshot.

Reference parity: this plays the role of the reference's mutable OLTP tables
(``/root/reference/app/models/database.py:62-87`` documentos updated in place
by ``app/database/repositories.py:51-68``), re-expressed as an append/replace
immutable-file lake table so updates become set-oriented partition rewrites.
"""

from __future__ import annotations

import contextlib
import heapq
import json
import logging
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HINT = "version-hint.text"

_log = logging.getLogger("etl_documentos_spark")

#: each thread's open transaction per table handle (``id``), as ``[commit
#: protocol, private metadata]``: `LakeTable._txn_scope` opens it,
#: `LakeTable._write_metadata` honors the protocol and ``_meta`` resolves
#: to the private metadata. Thread-local, so two threads committing
#: through one handle never see, publish or clear each other's work.
_TXN = threading.local()
#: serializes a returning transaction's hand-over of its metadata to the
#: handle (check the version, then set)
_ADOPT = threading.Lock()


class CommitConflictError(RuntimeError):
    """Another committer published the metadata version this transaction
    targeted (optimistic/CAS commit mode). Internal: `_commit_txn` retries
    the whole read-merge-write against fresh metadata; callers never see
    it unless the retry budget is exhausted."""


class SpecConflictError(RuntimeError):
    """The partition spec changed between file staging and commit (a
    concurrent ``split_bucket`` / ``rebucket``). Staged files were keyed
    under the OLD bucket transform, so committing them would put rows in
    manifest buckets that pruned scans of the new spec never read. Callers
    must re-stage under the fresh spec and retry — the same shape as
    Iceberg's optimistic-commit validation failure."""


def _stat_json(v):
    """Parquet footer statistic -> JSON-comparable scalar (str/int/float).

    Timestamps become epoch MICROSECONDS (int) — tz-independent, totally
    ordered, and round-trippable through json. Types without a portable
    total order (bytes, decimals as objects) return None => no stat kept
    for that column, so the file is simply never skipped on it.
    """
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        epoch = datetime.datetime(1970, 1, 1)
        return (v - epoch) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    return None


# --------------------------------------------------------------------------
# per-file bloom filters (Iceberg puffin-blob analogue) for point lookups
# --------------------------------------------------------------------------
#: bloom sizing: ~10 bits/distinct value at k=7 gives ~0.8% false positives;
#: the cap bounds manifest growth per file (32 KiB raw, less after zlib)
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_K = 7
_BLOOM_MAX_BITS = 1 << 18


def _bloom_canon(v) -> bytes | None:
    """Canonical bytes for a bloom value — MUST agree between build time
    (python objects out of pyarrow) and probe time (caller-supplied prune
    literals). Strings hash as utf-8; everything else goes through
    ``_stat_json`` (ints stay ints, timestamps become epoch micros) so both
    sides collapse to the same representation. None = not canonizable —
    the probe then keeps the file (never unsafe)."""
    if isinstance(v, str):
        return v.encode("utf-8")
    j = _stat_json(v)
    if j is None or isinstance(j, float):
        return None  # no portable exact representation -> no bloom
    return str(j).encode("utf-8")


def _bloom_positions(data: bytes, m: int, k: int):
    """k bit positions via double hashing over one md5 (h1 + i*h2 mod m)."""
    import hashlib

    d = hashlib.md5(data).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd stride
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_build(values) -> list | None:
    """Build a serialized bloom filter over an iterable of values.

    Returns ``[m_bits, k, zlib+base64 bitset]`` (JSON-friendly, rides in
    the manifest's per-file stats) or None when nothing canonizable. Sized
    at ~10 bits per distinct value, capped — a file with more distincts
    than the cap supports still gets a (weaker) filter; correctness never
    depends on the false-positive rate."""
    import base64
    import zlib

    keys = {c for v in values if (c := _bloom_canon(v)) is not None}
    if not keys:
        return None
    m = min(_BLOOM_MAX_BITS, max(64, _BLOOM_BITS_PER_VALUE * len(keys)))
    m = (m + 7) & ~7
    bits = bytearray(m // 8)
    for c in keys:
        for p in _bloom_positions(c, m, _BLOOM_K):
            bits[p >> 3] |= 1 << (p & 7)
    return [m, _BLOOM_K, base64.b64encode(zlib.compress(bytes(bits))).decode()]


def bloom_might_contain(blob: list, v) -> bool:
    """Probe a serialized bloom. True = maybe present (or not canonizable);
    False = PROVABLY absent — the only answer that may skip a file."""
    import base64
    import zlib

    c = _bloom_canon(v)
    if c is None:
        return True
    m, k, b64 = int(blob[0]), int(blob[1]), blob[2]
    bits = zlib.decompress(base64.b64decode(b64))
    return all(
        bits[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(c, m, k)
    )


def collect_parquet_stats(
    root: str, files: list[str], cols: list[str], bloom_cols: list[str] | None = None
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``cols`` from parquet FOOTERS only.

    The Iceberg manifest column-stats analogue (``lower_bounds`` /
    ``upper_bounds`` per data file): each new file costs one ~KB footer
    read, no data pages are touched. Called by the commit wrappers over
    the NEWLY staged files of one commit — O(files-per-commit), not
    O(table) — and uniform across every writer (shuffled, Arrow-direct,
    split/rebucket rewrites). On an object store a cluster-scale variant
    folds this into the write task itself (the Arrow writer already holds
    the batches); footer collection is the writer-agnostic form.

    A column missing from a file (pre-evolution files), or with stats the
    writer didn't record, is simply absent from that file's entry — scans
    then never skip that file on that column. NULL-only row groups
    contribute no bound.

    ``bloom_cols`` (opt-in via the ``stats.bloom.cols`` table property):
    additionally build a per-file bloom filter over each listed column's
    DISTINCT values, stored under ``bloom:<col>`` (the Iceberg puffin-blob
    analogue). Unlike min/max, this costs one column read per new file —
    still O(files-per-commit) — and pays off exactly where min/max cannot:
    point lookups against UNSORTED files (MOR delta files between
    compactions), whose [min, max] spans the whole key space while the
    bloom proves absence per key. Probed by ``LakeTable._stats_overlap``
    for equality prunes.
    """
    import pyarrow.parquet as pq

    want = set(cols)
    blooms = [c for c in (bloom_cols or []) if c]
    out: dict[str, dict[str, list]] = {}
    for rel in files:
        try:
            md = pq.read_metadata(os.path.join(root, rel))
        except OSError:
            continue
        per: dict[str, list] = {}
        if blooms:
            import pyarrow.compute as pc

            try:
                have = set(md.schema.names)
                tbl = pq.read_table(
                    os.path.join(root, rel),
                    columns=[c for c in blooms if c in have],
                )
                for c in tbl.column_names:
                    blob = bloom_build(
                        pc.drop_null(tbl[c].combine_chunks().unique()).to_pylist()
                    )
                    if blob is not None:
                        per[f"bloom:{c}"] = blob
            except OSError:
                pass
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in want:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = _stat_json(st.min), _stat_json(st.max)
                if lo is None or hi is None:
                    continue
                cur = per.get(name)
                if cur is None:
                    per[name] = [lo, hi]
                else:
                    per[name] = [min(cur[0], lo), max(cur[1], hi)]
        if per:
            out[rel] = per
    return out


def _stage_rel(kind: str = "w") -> str:
    """A fresh staging directory, relative to the table root. ``w``
    (writes: appends, merge stagings, view refreshes, splits) or ``c``
    (the LWW-reduced outputs of a compaction or a merge, which
    `Snapshot.reduced_buckets` reads as reduced) — the
    ``delta_N``/``base_N`` split of Hive ACID."""
    return f"data/{kind}-{uuid.uuid4().hex[:12]}"


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    ts_ms: int
    operation: str
    summary: dict
    files: dict[str, list[str]]  # bucket (as str) -> relative file paths
    #: per-file column ranges: path -> {col: [min, max]} (Iceberg manifest
    #: ``lower_bounds``/``upper_bounds`` analogue). OPTIONAL — files absent
    #: here are simply never skipped, so pre-stats snapshots keep reading.
    file_stats: dict[str, dict[str, list]] = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.file_stats is None:
            self.file_stats = {}

    def to_json(self) -> dict:
        d = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "ts_ms": self.ts_ms,
            "operation": self.operation,
            "summary": self.summary,
            "files": self.files,
        }
        if self.file_stats:
            d["file_stats"] = self.file_stats
        return d

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"], d["parent_id"], d["ts_ms"], d["operation"],
            d["summary"], d["files"], d.get("file_stats") or {},
        )

    def reduced_buckets(self) -> list[int]:
        """Buckets already LWW-reduced: every file sits under ONE
        ``data/c-*`` directory, i.e. is the output of one compaction or
        merge (`_stage_rel`), so each key has at most one row there. A
        later append, or a concurrent rewrite's output, adds a second
        directory and the bucket is read through the LWW again."""
        out = []
        for b, fs in self.files.items():
            dirs = {
                p.split("/", 2)[1] if p.startswith("data/c-") else None
                for p in fs
            }
            if len(dirs) == 1 and None not in dirs:
                out.append(int(b))
        return out



#: immutable-manifest parse cache (manifest files are write-once, so a
#: cached parse can never be stale). Keyed by ABSOLUTE path; bounded so a
#: long-lived process churning through maintenance rewrites cannot grow it
#: without limit.
_MANIFEST_CACHE: dict[str, dict] = {}
_MANIFEST_CACHE_MAX = 8192


def _load_manifest(root: str, rel: str) -> dict:
    full = os.path.join(root, rel)
    man = _MANIFEST_CACHE.get(full)
    if man is None:
        with open(full) as f:
            man = json.load(f)
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            _MANIFEST_CACHE.clear()
        _MANIFEST_CACHE[full] = man
    return man


def _manifest_matches(man: dict, files: list, stats: dict) -> bool:
    """Does a parent manifest already hold exactly this bucket content?
    Identity checks first: untouched buckets share the parent's objects, so
    the common case is O(files) pointer compares, no deep equality."""
    mf = man["files"]
    if mf is not files and mf != files:
        return False
    ms = man.get("stats", {})
    for p in files:
        a = stats.get(p)
        b = ms.get(p)
        if a is not b and a != b:  # catches added, dropped AND changed stats
            return False
    return True


#: row-group flush threshold for the direct writers — one
#: ParquetWriter.write_table per incoming Arrow batch would emit a
#: few-hundred-row row group each time (32 buckets x 10k-row batches) and
#: per-group metadata/stats overhead then dominates (measured 4x collapse)
_FLUSH_ROWS = 48_000


def _arrow_type(dt: T.DataType, tz: str):
    """Spark type → the Arrow type Spark's own Arrow conversion produces
    (what `mapInArrow` batches carry): the change kernel projects onto
    these, so both feeders write bit-identical parquet schemas."""
    import pyarrow as pa

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz=tz)
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")  # wall-clock domain, no zone
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    raise TypeError(f"no Arrow mapping for {dt}")


#: the direct writers' output rows, one schema for every kind: "f" data
#: file, "m" manifest stats, "s" per-(epoch, source partition) stats, "l"
#: key sketch, "q" quarantined-row count per epoch. A kind leaves the
#: columns it does not use null.
_OUT_FIELDS = [
    ("kind", "string"), ("bucket", "int"), ("path", "string"),
    ("nrows", "long"), ("epoch", "int"), ("sp", "int"), ("h0", "long"),
    ("h1", "long"), ("h2", "long"), ("n", "long"), ("ndel", "long"),
    ("max_lsn", "long"), ("max_ts", "long"), ("sketch", "binary"),
    ("stats_json", "string"),
]
_OUT_DDL = ", ".join(f"{c} {t}" for c, t in _OUT_FIELDS)


def _out_batch(kind: str, size: int, **cols):
    """``size`` output rows of ``kind``; ``cols`` maps column -> values."""
    import pyarrow as pa

    types = {
        "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
        "binary": pa.binary(),
    }
    schema = pa.schema([(c, types[t]) for c, t in _OUT_FIELDS])
    data = {}
    for f in schema:
        v = cols.get(f.name, pa.nulls(size, f.type))
        if isinstance(v, pa.ChunkedArray):
            v = v.combine_chunks()
        data[f.name] = v
    data["kind"] = [kind] * size
    return pa.RecordBatch.from_pydict(data, schema=schema)


def _gather_direct_rows(rows, rel: str):
    """Fold the direct writers' manifest/stats output rows (pyspark Rows or
    plain dicts — both index by name) into (files, stat_rows, manifest)."""
    files: dict[str, list[str]] = {}
    stat_rows = []
    manifest: dict[str, dict] = {}
    for r in rows:
        if r["kind"] == "f":
            files.setdefault(str(r["bucket"]), []).append(
                f"{rel}/{r['path']}"
            )
        elif r["kind"] == "m":
            manifest[f"{rel}/{r['path']}"] = json.loads(r["stats_json"])
        else:
            stat_rows.append(r)
    files = {b: sorted(fs) for b, fs in files.items()}
    return files, stat_rows, manifest or None


#: HyperLogLog precision of the writer's per-(epoch, sp) key sketch: m=2^10
#: registers => ~3.2% rel. error (on par with Spark's default
#: approx_count_distinct rsd=5%), 1 KiB per emitted row. Register merge
#: across tasks is elementwise max — order-free, so the estimate is
#: deterministic for a given input set.
HLL_P = 10
HLL_M = 1 << HLL_P


def fold_hll(sketches: dict, ch, keys) -> None:
    """Fold 64-bit key hashes ``ch`` into HyperLogLog registers:
    ``sketches[k]`` (uint8[HLL_M]) takes the register-wise max over the
    rows whose ``keys`` equal ``k``. One scatter-max over
    ``slot * HLL_M + register`` covers every key of the batch."""
    import numpy as np

    keys = np.asarray(keys, np.int64)
    u = np.asarray(ch).astype(np.int64).view(np.uint64)
    idx = (u >> np.uint64(64 - HLL_P)).astype(np.intp)
    # rho = leading zeros of the suffix + 1; the guard bit caps it at
    # 64-p+1 when the suffix is zero
    y = (u << np.uint64(HLL_P)) | np.uint64(1 << (HLL_P - 1))
    for sh in (1, 2, 4, 8, 16, 32):
        y |= y >> np.uint64(sh)
    v = ~y  # popcount of the zeros above the highest set bit
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    m2 = np.uint64(0x3333333333333333)
    v = (v & m2) + ((v >> np.uint64(2)) & m2)
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    rho = ((v * np.uint64(0x0101010101010101)) >> np.uint64(56)) + 1
    lo = int(keys.min())
    d = keys - lo
    if int(d.max()) < 1 << 16:
        # a batch spans few adjacent keys (one epoch's source
        # partitions): dense slots by counting, not by sorting the batch
        seen = np.bincount(d) > 0
        slot = (np.cumsum(seen) - 1)[d]
        uk = np.nonzero(seen)[0] + lo
    else:
        uk, slot = np.unique(keys, return_inverse=True)
    reg = np.zeros(len(uk) * HLL_M, np.uint8)
    np.maximum.at(reg, slot * HLL_M + idx, rho.astype(np.uint8))
    for k, r in zip(uk.tolist(), reg.reshape(len(uk), HLL_M)):
        cur = sketches.get(k)
        sketches[k] = r if cur is None else np.maximum(cur, r)


#: row-level validity checks of a change row, in order, as (column, reason):
#: the first failing check names the row's ``_dlq_reason``
_DLQ_CHECKS = (
    ("op", "unknown_op"),
    ("conv_id", "null_conv_id"),
    ("turn_idx", "null_turn_idx"),
    ("lsn", "null_lsn"),
    ("ts", "null_ts"),
)


def _split_invalid(tbl, epoch, bad: dict):
    """Quarantine mask: return ``tbl``'s valid rows and append the others,
    with every source column plus ``_dlq_reason``, to ``bad[epoch]``.

    Valid = a known op (a NULL op counts as unknown) and non-null key,
    version and event-time columns — the invariants bucketing and the LWW
    merge rely on; an absent column fails its check. ``epoch`` None reads
    each row's ``epoch`` column."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    names = set(tbl.schema.names)
    reason = np.full(n, None, object)
    failed = np.zeros(n, bool)
    for col, why in reversed(_DLQ_CHECKS):
        if col not in names:
            hit = np.ones(n, bool)
        elif col == "op":
            known = pa.array(["insert", "update", "delete"])
            hit = ~pc.is_in(tbl.column(col), known).to_numpy()
        else:
            hit = tbl.column(col).is_null().to_numpy()
        reason[hit] = why
        failed |= hit
    if not failed.any():
        return tbl
    # drop the source file's schema metadata: a Spark-written file's embedded
    # row schema would hide ``_dlq_reason`` from Spark readers of the DLQ
    rows = (
        tbl.filter(pa.array(failed))
        .append_column("_dlq_reason", pa.array(reason[failed], pa.string()))
        .replace_schema_metadata(None)
    )
    epochs = (
        np.full(rows.num_rows, epoch)
        if epoch is not None
        else rows.column("epoch").to_numpy(zero_copy_only=False)
    )
    if "epoch" in rows.schema.names:  # the DLQ directory names the epoch
        rows = rows.drop_columns(["epoch"])
    for e in np.unique(epochs).tolist():
        bad.setdefault(int(e), []).append(rows.filter(pa.array(epochs == e)))
    return tbl.filter(pa.array(~failed))


def change_batches(
    sources,
    phys_fields: list,
    bucket_col: str,
    num_buckets: int,
    split: list[int] | None,
    fence: int | None = None,
    dlq: str | None = None,
    quarantined: dict | None = None,
    part: int | None = None,
):
    """The change-batch kernel: raw change rows → bucketed physical rows.

    ``sources`` yields ``(tbl, epoch)``: a pyarrow Table of change rows
    (op, key, payload, ts, lsn, source_partition) and its epoch id, or
    None to read each row's ``epoch`` column. Both writer feeders run it:
    `LakeTable.write_change_files_direct` over batches read from
    change-log parquet, once per chunk of files (in the driver for a small
    input, else in Spark tasks), and `LakeTable.write_data_files_direct`
    inside its tasks over ``mapInArrow`` batches of a DataFrame. Per
    batch, in order:

    1. ``dlq`` given (quarantine on): invalid rows leave the batch
       (`_split_invalid`) — before the fence, so a null-``lsn`` row is
       quarantined, not silently fenced out;
    2. bootstrap fence: keep ``lsn > fence``;
    3. projection onto ``phys_fields`` (physical name, Arrow type): ``op``
       becomes ``_deleted``, ``lsn`` ``_lsn``, absent columns null;
    4. sidecars, hashed in numpy (`functions.xxh64`, bit-equal to Spark's
       ``xxhash64``): ``_h``, the binlog position hash
       ``xxhash64(source_partition, lsn)`` the epoch fingerprint sums; the
       bucket key hashed once, giving ``_bucket`` and, on ``conv_id``
       tables, ``_ch`` (the key-sketch hash); ``epoch`` and
       ``source_partition`` as int.

    Yields RecordBatches for `_make_write_partition`. Once ``sources`` is
    drained, each epoch's quarantined rows go to
    ``<dlq>/epoch=N/part-<part>.parquet`` and their count to
    ``quarantined[N]``. ``part`` is the caller's chunk index; None takes
    the Spark task's partition id. Either way a retried chunk overwrites
    its own file, and no two chunks of one staging share a name.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from etl_documentos_spark.functions.xxh64 import bucket_from_hash, xxh64_key

    schema = pa.schema(
        [pa.field(n, t) for n, t in phys_fields]
        + [
            ("_h", pa.int64()),
            ("_ch", pa.int64()),
            ("epoch", pa.int32()),
            ("source_partition", pa.int32()),
            ("_bucket", pa.int32()),
        ]
    )
    bad: dict[int, list] = {}
    for tbl, epoch in sources:
        if dlq is not None:
            tbl = _split_invalid(tbl, epoch, bad)
        if fence is not None:
            tbl = tbl.filter(pc.greater(tbl.column("lsn"), fence))
        n = tbl.num_rows
        if n == 0:
            continue
        present = set(tbl.schema.names)
        cols = {}  # physical name -> projected array
        for name, typ in phys_fields:
            if name == "_deleted":
                a = pc.equal(tbl.column("op"), "delete")
            elif name == "_lsn":
                a = tbl.column("lsn")
            elif name in present:
                a = tbl.column(name)
            else:
                a = pa.nulls(n, typ)
            if isinstance(a, pa.ChunkedArray):
                a = a.combine_chunks()
            if a.type != typ:
                a = pc.cast(a, typ, safe=False)
            cols[name] = a
        sp = tbl.column("source_partition")
        h = xxh64_key(tbl.column("lsn"), seed=xxh64_key(sp))
        kh = xxh64_key(cols[bucket_col])
        ch = kh if bucket_col == "conv_id" else xxh64_key(cols["conv_id"])
        ep = (
            pa.array(np.full(n, epoch, np.int32))
            if epoch is not None
            else pc.cast(tbl.column("epoch"), pa.int32()).combine_chunks()
        )
        yield pa.record_batch(
            [
                *cols.values(),
                pa.array(h, pa.int64()),
                pa.array(ch, pa.int64()),
                ep,
                pc.cast(sp.combine_chunks(), pa.int32()),
                pa.array(bucket_from_hash(kh, num_buckets, split), pa.int32()),
            ],
            schema=schema,
        )
    if bad:
        import pyarrow.parquet as pq

        if part is None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            part = ctx.partitionId() if ctx else 0
        name = f"part-{part:05d}.parquet"
        for e, parts in bad.items():
            d = os.path.join(dlq, f"epoch={e}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                pa.concat_tables(parts, promote_options="default"),
                os.path.join(d, name),
            )
            quarantined[e] = sum(p.num_rows for p in parts)


def _make_write_partition(
    out: str,
    data_cols: list,
    man_on: bool,
    man_cols: list,
    man_blooms: list,
    codec: str,
):
    """Build the per-task Arrow write generator of the change-batch
    kernel's two feeders (`change_batches` output, from files or from
    ``mapInArrow``). One code path means the feeders produce
    bit-identical files, stats rows, sketches and manifest entries for the
    same physical batches. ``out`` is created with the first file,
    so a staging that writes no row leaves no directory behind."""
    def write_partition(batches):
        import os as _os
        import uuid as _uuid

        import pyarrow as _pa
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        # Buffer each bucket's slices and flush a row group only once
        # ~FLUSH_ROWS have accumulated: one ParquetWriter.write_table
        # call per incoming Arrow batch would emit a few-hundred-row row
        # group each time (32 buckets x 10k-row batches), and per-group
        # metadata/stats overhead then dominates the write (measured 4x
        # throughput collapse on large per-task inputs).
        FLUSH_ROWS = _FLUSH_ROWS
        writers: dict[int, _pq.ParquetWriter] = {}
        names: dict[int, str] = {}
        counts: dict[int, int] = {}
        buf: dict[int, list] = {}
        buf_rows: dict[int, int] = {}
        stat_parts: list = []

        # per-(epoch, sp) HyperLogLog registers over the key hash (_ch)
        sketches: dict[int, object] = {}

        # per-bucket-file manifest accumulators (only when opted in):
        # running [lo, hi] per stat col and the distinct-value set per
        # bloom col, folded at flush time from the Arrow buffers
        man_range: dict[int, dict] = {}
        man_vals: dict[int, dict] = {}

        def _fold_manifest(b: int, tbl) -> None:
            rng = man_range.setdefault(b, {})
            vs = man_vals.setdefault(b, {})
            for c in man_cols:
                mm = _pc.min_max(tbl.column(c))
                lo = _stat_json(mm["min"].as_py())
                hi = _stat_json(mm["max"].as_py())
                if lo is None or hi is None:
                    continue
                cur = rng.get(c)
                rng[c] = (
                    [lo, hi]
                    if cur is None
                    else [min(cur[0], lo), max(cur[1], hi)]
                )
            for c in man_blooms:
                acc = vs.setdefault(c, set())
                acc.update(
                    v
                    for v in _pc.unique(tbl.column(c)).to_pylist()
                    if v is not None
                )

        def flush(b: int) -> None:
            parts = buf.get(b)
            if not parts:
                return
            tbl = _pa.concat_tables(parts)
            w = writers.get(b)
            if w is None:
                name = f"b{b:05d}-{_uuid.uuid4().hex[:16]}.parquet"
                names[b] = name
                _os.makedirs(out, exist_ok=True)
                writers[b] = w = _pq.ParquetWriter(
                    _os.path.join(out, name),
                    tbl.schema,
                    compression=codec,
                )
                counts[b] = 0
            w.write_table(tbl)
            counts[b] += tbl.num_rows
            if man_on:
                _fold_manifest(b, tbl)
            buf[b] = []
            buf_rows[b] = 0

        for batch in batches:
            if not batch.num_rows:
                continue
            tbl = _pa.Table.from_batches([batch])
            bcol = tbl.column("_bucket")
            data = tbl.select(data_cols)
            # fingerprint chunks of the position hash _h: 22+22+20-bit
            # chunk sums are commutative (any partitioning), keep
            # duplicates (unlike XOR) and cannot overflow int64 below
            # ~2x10^12 rows per epoch
            h = tbl.column("_h")
            m22 = _pa.scalar(0x3FFFFF, _pa.int64())
            m20 = _pa.scalar(0xFFFFF, _pa.int64())
            has_ts = "ts" in tbl.schema.names
            part = _pa.table(
                {
                    "epoch": tbl.column("epoch"),
                    "sp": tbl.column("source_partition"),
                    "h0": _pc.bit_wise_and(h, m22),
                    "h1": _pc.bit_wise_and(_pc.shift_right(h, 22), m22),
                    "h2": _pc.bit_wise_and(_pc.shift_right(h, 44), m20),
                    "ndel": _pc.cast(tbl.column("_deleted"), _pa.int64()),
                    "lsn": tbl.column("_lsn"),
                    # event-time watermark in EPOCH MICROS (int64): a
                    # tz-aware Arrow timestamp's storage is UTC micros, so
                    # the int64 view is independent of the Spark session
                    # timezone — naive-timestamp stats would shift by the
                    # session UTC offset instead
                    "ts": (
                        _pc.cast(
                            _pc.cast(
                                tbl.column("ts"), _pa.timestamp("us"), safe=False
                            ),
                            _pa.int64(),
                        )
                        if has_ts
                        else _pa.nulls(tbl.num_rows, _pa.int64())
                    ),
                }
            )
            stat_parts.append(
                part.group_by(["epoch", "sp"]).aggregate(
                    [
                        ("h0", "sum"), ("h1", "sum"), ("h2", "sum"),
                        ("ndel", "sum"), ("lsn", "max"), ("lsn", "count"),
                        ("ts", "max"),
                    ]
                )
            )
            ep, sp, ch = (
                tbl.column(c).to_numpy(zero_copy_only=False)
                for c in ("epoch", "source_partition", "_ch")
            )
            fold_hll(sketches, ch, (ep.astype("int64") << 20) | sp)
            for b in _pc.unique(bcol).to_pylist():
                sub = data.filter(_pc.equal(bcol, b))
                buf.setdefault(b, []).append(sub)
                buf_rows[b] = buf_rows.get(b, 0) + sub.num_rows
                if buf_rows[b] >= FLUSH_ROWS:
                    flush(b)
        for b in list(buf):
            flush(b)
        for w in writers.values():
            w.close()

        if writers:
            yield _out_batch(
                "f",
                len(names),
                bucket=list(names.keys()),
                path=list(names.values()),
                nrows=[counts[b] for b in names],
            )
        if man_on and names:
            import json as _json

            mstats: dict[int, str] = {}
            for b, name in names.items():
                per = dict(man_range.get(b, {}))
                for c, vals in man_vals.get(b, {}).items():
                    blob = bloom_build(vals)
                    if blob is not None:
                        per[f"bloom:{c}"] = blob
                if per:
                    mstats[b] = _json.dumps(per)
            if mstats:
                yield _out_batch(
                    "m",
                    len(mstats),
                    bucket=list(mstats.keys()),
                    path=[names[b] for b in mstats],
                    stats_json=list(mstats.values()),
                )
        if stat_parts:
            merged = (
                _pa.concat_tables(stat_parts)
                .group_by(["epoch", "sp"])
                .aggregate(
                    [
                        ("h0_sum", "sum"),
                        ("h1_sum", "sum"),
                        ("h2_sum", "sum"),
                        ("ndel_sum", "sum"),
                        ("lsn_max", "max"),
                        ("lsn_count", "sum"),
                        ("ts_max", "max"),
                    ]
                )
            )
            yield _out_batch(
                "s",
                merged.num_rows,
                epoch=merged.column("epoch"),
                sp=merged.column("sp"),
                h0=merged.column("h0_sum_sum"),
                h1=merged.column("h1_sum_sum"),
                h2=merged.column("h2_sum_sum"),
                n=merged.column("lsn_count_sum"),
                ndel=merged.column("ndel_sum_sum"),
                max_lsn=merged.column("lsn_max_max"),
                max_ts=merged.column("ts_max_max"),
            )
        if sketches:
            ks = sorted(sketches)
            yield _out_batch(
                "l",
                len(ks),
                epoch=[int(k) >> 20 for k in ks],
                sp=[int(k) & ((1 << 20) - 1) for k in ks],
                sketch=[sketches[k].tobytes() for k in ks],
            )

    return write_partition


class LakeTable:
    """A bucket-partitioned, snapshot-versioned parquet table."""

    def __init__(self, root: str, meta: dict):
        self.root = root
        self._committed = meta

    @property
    def _meta(self) -> dict:
        """The metadata this thread works on: inside a transaction on this
        handle, that transaction's own copy (`_txn_scope`); else the
        handle's."""
        txn = getattr(_TXN, "open", {}).get(id(self))
        if txn is None or txn[1] is None:
            return self._committed
        return txn[1]

    @_meta.setter
    def _meta(self, meta: dict) -> None:
        txn = getattr(_TXN, "open", {}).get(id(self))
        if txn is None:
            self._committed = meta
        else:
            txn[1] = meta

    # ------------------------------------------------------------------ init
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        num_buckets: int = 16,
        bucket_col: str = "conv_id",
        properties: dict | None = None,
    ) -> "LakeTable":
        if os.path.exists(os.path.join(root, _HINT)):
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        snap = Snapshot(1, None, int(time.time() * 1000), "create", {}, {})
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "schema": schema.jsonValue(),
            "schema_version": 1,
            "partition_spec": {
                "kind": "bucket",
                "num_buckets": num_buckets,
                "source_col": bucket_col,
            },
            "properties": properties or {},
            "snapshots": [snap.to_json()],
            "current_snapshot_id": 1,
            "metadata_version": 1,
        }
        tbl = cls(root, meta)
        tbl._write_metadata()
        return tbl

    @classmethod
    def load(cls, root: str) -> "LakeTable":
        # Both publish paths are atomic-with-content (flock: temp +
        # os.replace; CAS: temp + os.link), so a clean read succeeds
        # first try on POSIX. The bounded retry guards two real races:
        # (a) filesystems with weaker rename visibility (NFS attribute
        # caching) serving a partial version file, and (b) a concurrent
        # snapshot expiry GC'ing a manifest sidecar between this reader
        # resolving a version and dereferencing its refs — the retry
        # re-probes and lands on the newer version, whose manifests are
        # live. Manifest materialization therefore sits INSIDE the loop.
        last_exc: Exception | None = None
        for attempt in range(5):
            if attempt:
                time.sleep(0.05 * attempt)
            with open(os.path.join(root, _HINT)) as f:
                v = int(f.read().strip())
            # the hint is a FLOOR, not the truth: CAS committers update it
            # best-effort after the exclusive version create, so probe
            # forward to the newest published version (0-1 stats steady)
            while os.path.exists(
                os.path.join(root, "metadata", f"v{v + 1:06d}.json")
            ):
                v += 1
            try:
                with open(
                    os.path.join(root, "metadata", f"v{v:06d}.json")
                ) as f:
                    meta = json.load(f)
                # format 2: snapshots carry per-bucket manifest refs;
                # materialize files/stats in memory (manifest parses hit
                # the immutable cache, and snapshots sharing a manifest
                # share the parsed objects — a refresh after someone
                # else's commit re-reads only the small v{N}.json plus
                # the few manifests that actually changed)
                for s in meta.get("snapshots", []):
                    refs = s.get("manifests")
                    if refs is None:
                        continue  # format 1: files/file_stats inline
                    files: dict[str, list[str]] = {}
                    stats: dict[str, dict] = {}
                    for b, rel in refs.items():
                        man = _load_manifest(root, rel)
                        files[b] = man["files"]
                        stats.update(man.get("stats", {}))
                    s["files"] = files
                    s["file_stats"] = stats
                return cls(root, meta)
            except (json.JSONDecodeError, FileNotFoundError) as e:
                last_exc = e
        raise last_exc

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, _HINT))

    # ----------------------------------------------------------- properties
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self._meta["schema"])

    @property
    def num_buckets(self) -> int:
        return self._meta["partition_spec"]["num_buckets"]

    @property
    def bucket_col(self) -> str:
        return self._meta["partition_spec"]["source_col"]

    @property
    def current_snapshot(self) -> Snapshot:
        sid = self._meta["current_snapshot_id"]
        for s in self._meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return Snapshot.from_json(s)
        raise KeyError(sid)

    @property
    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self._meta["snapshots"]]

    @property
    def split_buckets(self) -> list[int]:
        """Base buckets currently split power-of-two style: base bucket
        ``b`` maps to child ids ``{b, b + num_buckets}`` (modular identity:
        ``h % 2n`` is always ``h % n`` or ``h % n + n``). Empty on an
        unsplit table."""
        return [
            int(b)
            for b in self._meta["partition_spec"].get("split_buckets", [])
        ]

    def spec_fingerprint(self) -> tuple:
        """Identity of the bucket transform staged files were keyed under.
        Captured at staging time and validated at commit time (under the
        flock) — a mismatch means a concurrent split/rebucket landed and
        the staged keys are stale (``SpecConflictError``)."""
        return (self.num_buckets, tuple(self.split_buckets))

    def stat_cols(self) -> list[str]:
        """Columns whose per-file [min, max] ranges are recorded in the
        manifest at commit time. Default: the bucket key (point lookups by
        conversation are the hot read); override with the ``stats.cols``
        table property (comma list). Restricted to columns present in the
        current schema."""
        prop = self._meta["properties"].get("stats.cols")
        cols = (
            [c for c in prop.split(",") if c]
            if prop is not None
            else [self.bucket_col]
        )
        names = {f.name for f in self.schema.fields}
        return [c for c in cols if c in names]

    def write_compression(self) -> str:
        """Parquet codec for data files (``write.compression`` property,
        default snappy). zstd trades ~10-20% write CPU for ~30% smaller
        files — at 100 TB that is storage AND scan bandwidth; both the
        shuffled and the Arrow-direct writer honor it uniformly."""
        return self._meta["properties"].get("write.compression", "snappy")

    def stat_bloom_cols(self) -> list[str]:
        """Columns with per-file bloom filters in the manifest (opt-in via
        the ``stats.bloom.cols`` table property, comma list). Empty by
        default — blooms cost a column read per newly committed file, so
        tables that never serve point lookups on unsorted deltas skip it."""
        prop = self._meta["properties"].get("stats.bloom.cols")
        if not prop:
            return []
        names = {f.name for f in self.schema.fields}
        return [c for c in prop.split(",") if c and c in names]

    def live_buckets(self) -> list[int]:
        """All addressable bucket ids under the current (possibly mixed)
        spec: unsplit base ids plus both children of each split base."""
        split = set(self.split_buckets)
        out = list(range(self.num_buckets))
        out.extend(b + self.num_buckets for b in sorted(split))
        return out

    def bucket_expr(self, col: str | Column | None = None) -> Column:
        """The partition transform: pmod(xxhash64(conv_id), N). Deterministic
        across sessions and cluster sizes (xxhash64 is seed-stable).

        With split buckets active the transform is mixed: rows whose base
        bucket is split hash at ``2N`` granularity (landing in ``b`` or
        ``b + N``), everything else stays at ``N`` — still a pure
        deterministic expression, so every write path (shuffled and
        Arrow-direct) and merge pruning pick it up unchanged."""
        c = F.col(self.bucket_col) if col is None else (F.col(col) if isinstance(col, str) else col)
        h = F.xxhash64(c)
        b0 = F.pmod(h, F.lit(self.num_buckets))
        split = self.split_buckets
        if not split:
            return b0.cast("int")
        return (
            F.when(
                b0.isin([int(s) for s in split]),
                F.pmod(h, F.lit(2 * self.num_buckets)),
            )
            .otherwise(b0)
            .cast("int")
        )

    # ----------------------------------------------------------------- scan
    def scan(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        prune: dict[str, tuple] | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read the table (optionally pruned to a bucket subset / a snapshot).

        Reads with the current table schema by name: files written before an
        ``add_columns`` lack the new columns and surface them as null — the
        Iceberg add-column read semantics, no rewrite needed.

        ``prune``: ``{col: (lo, hi)}`` inclusive ranges — files whose
        manifest stats prove ``[min, max]`` disjoint from the range are
        skipped WITHOUT being opened (Iceberg's min/max file skipping).
        Files lacking stats for a column are always kept, so pruning is
        safe over mixed snapshots; the caller still applies the actual
        row-level filter. At 10^10 rows a sorted-compacted bucket holds
        contiguous key ranges per file, so a point lookup opens ~1 file
        instead of the bucket's whole history.
        """
        return self._read_data_files(
            spark, self.data_files(buckets, snapshot_id, prune, ref)
        )

    def snapshot_at(
        self, snapshot_id: int | None = None, ref: str | None = None
    ) -> Snapshot:
        """The current snapshot, or the one ``snapshot_id``/``ref`` names."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either ref or snapshot_id, not both")
            snapshot_id = self.resolve_ref(ref)
        if snapshot_id is None:
            return self.current_snapshot
        return next(s for s in self.snapshots if s.snapshot_id == snapshot_id)

    def data_files(
        self,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        prune: dict[str, tuple] | None = None,
        ref: str | None = None,
    ) -> list[str]:
        """The absolute paths of the data files `scan` reads for the same
        arguments: the snapshot's files in ``buckets``, less those whose
        manifest stats rule out ``prune`` (`_stats_overlap`)."""
        snap = self.snapshot_at(snapshot_id, ref)
        stats = snap.file_stats if prune else {}
        files: list[str] = []
        for b, fs in snap.files.items():
            if buckets is not None and int(b) not in buckets:
                continue
            for p in fs:
                if prune and not self._stats_overlap(stats.get(p), prune):
                    continue
                files.append(os.path.join(self.root, p))
        return files

    def _read_data_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Read specific data files with the CURRENT schema, folding
        renamed columns' historical names back in — the one sanctioned
        way to open this table's parquet. Every internal reader of raw
        file lists (scan, split_bucket's rewrite, the changelog's
        added-file reads) must go through here: a bare
        ``spark.read.schema(self.schema)`` surfaces a renamed column as
        all-NULL for pre-rename files, which in a REWRITE path is
        permanent data loss."""
        if not files:
            return spark.createDataFrame([], self.schema)
        ren = self._renamed()
        if not ren:
            return spark.read.schema(self.schema).parquet(*files)
        # Renamed columns: files written before the rename physically hold
        # a historical name. Read with a widened schema carrying every
        # historical name (nullable, same type — each file has exactly ONE
        # of the names physically, the rest surface as null), then fold
        # them back with coalesce. One extra projection, only when a
        # rename exists; rename itself stays metadata-only, zero rewrite.
        cur = self.schema
        read_fields = list(cur.fields)
        for new, hist in ren.items():
            dt = cur[new].dataType
            read_fields.extend(T.StructField(h, dt, True) for h in hist)
        df = spark.read.schema(T.StructType(read_fields)).parquet(*files)
        cols = [
            F.coalesce(F.col(f.name), *[F.col(h) for h in reversed(ren[f.name])]).alias(f.name)
            if f.name in ren
            else F.col(f.name)
            for f in cur.fields
        ]
        return df.select(*cols)

    def _renamed(self) -> dict[str, list[str]]:
        """Live columns' historical names from the rename history, oldest
        first: ``{current name: [older names]}``."""
        live = {f.name for f in self.schema.fields}
        ren = self._meta.get("renamed_columns", {})
        return {k: v for k, v in ren.items() if k in live}

    @staticmethod
    def read_data_files_arrow(
        files: list[str], fields: list, renamed: dict, filter=None
    ):
        """The pyarrow twin of `_read_data_files`: one threaded
        ``pyarrow.dataset`` read of ``files`` projected onto ``fields``,
        the current schema as (name, `_arrow_type`) pairs. Columns a file
        lacks (added later) read as null; a renamed column reads every
        historical name in ``renamed`` (`_renamed`) too and folds them
        back with the same reverse-history coalesce. ``filter``: a
        pyarrow expression applied by the scan itself, so row groups
        whose statistics rule it out are skipped; it must name only
        columns without a rename history (the bucket column, which
        `rename_column` refuses). Returns a pyarrow Table with exactly
        ``fields``."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        types = dict(fields)
        read = list(fields) + [
            (h, types[new]) for new, hist in renamed.items() for h in hist
        ]
        tbl = ds.dataset(files, schema=pa.schema(read), format="parquet").to_table(
            filter=filter
        )
        if not renamed:
            return tbl
        return pa.table(
            [
                pc.coalesce(tbl[n], *[tbl[h] for h in reversed(renamed[n])])
                if n in renamed
                else tbl[n]
                for n, _ in fields
            ],
            schema=pa.schema(fields),
        )

    @staticmethod
    def _stats_overlap(st: dict | None, prune: dict[str, tuple]) -> bool:
        """True unless the file's recorded stats PROVE it cannot match:
        the [min, max] range is disjoint from the prune range, or — for a
        point prune (lo == hi) — the file's bloom filter proves the key
        absent. Files missing a stat are always kept."""
        if not st:
            return True
        for col, (lo, hi) in prune.items():
            r = st.get(col)
            if r is not None and (
                (hi is not None and r[0] > hi) or (lo is not None and r[1] < lo)
            ):
                return False
            if lo is not None and lo == hi:
                blob = st.get(f"bloom:{col}")
                if blob is not None and not bloom_might_contain(blob, lo):
                    return False
        return True

    # -------------------------------------------------------------- commits
    @property
    def commit_mode(self) -> str:
        """``flock`` (default): pessimistic cross-process mutex on a POSIX
        filesystem. ``cas`` (table property ``commit.mode='cas'``):
        optimistic put-if-absent on ``metadata/v{N}.json`` — the
        object-store-portable protocol (S3 conditional PUT / GCS
        if-generation-match), no byte-range locks required. Exactly-once
        holds in both: the commit POINT is the exclusive creation of the
        next immutable metadata version; losers re-read and re-merge."""
        return self._meta["properties"].get("commit.mode", "flock")

    def _commit_txn(self, body):
        """Run one metadata transaction: ``body()`` executes against fresh
        metadata and ends in ``_write_metadata`` (usually via
        ``_next_snapshot``). flock mode serializes with the cross-process
        mutex; CAS mode retries the whole read-merge-write when another
        committer wins the version. Each attempt works on its own
        metadata (`_txn_scope`), so a loser's mutations are discarded with
        it, and threads committing through one handle cannot overwrite each
        other's in-flight change. Deterministic linear
        backoff — under N contenders someone always wins, so progress is
        global even when one process starves briefly."""
        # the protocol branch here and the publish path in
        # _write_metadata must agree WITHIN one transaction: the mode is
        # re-checked after the in-txn refresh and the txn re-dispatched
        # if a concurrent `ALTER ... commit.mode` flipped it — otherwise
        # a flock-entered txn could publish via os.replace while CAS
        # committers race the same version (silent lost commit), or a
        # CAS-entered txn could leak CommitConflictError uncaught.
        for _redispatch in range(4):
            if self.commit_mode != "cas":
                with self._process_commit_lock(), self._txn_scope("flock"):
                    self._refresh()
                    if self.commit_mode == "cas":
                        continue  # flipped under us: redo as CAS
                    return body()
            else:
                last: Exception | None = None
                flipped = False
                for attempt in range(200):
                    try:
                        with self._txn_scope("cas"):
                            self._refresh()
                            if self.commit_mode != "cas":
                                flipped = True
                                break
                            return body()
                    except CommitConflictError as e:
                        last = e
                        time.sleep(min(0.002 * attempt, 0.05))
                if flipped:
                    continue  # flipped under us: redo under the lock
                raise CommitConflictError(
                    f"lost 200 consecutive commit races on {self.root}"
                ) from last
        raise CommitConflictError(
            f"commit.mode flipped repeatedly during a transaction on "
            f"{self.root}"
        )

    @contextlib.contextmanager
    def _txn_scope(self, mode: str):
        """One transaction attempt of this thread on this handle (`_TXN`):
        pins its commit protocol ``mode`` and gives it private metadata,
        which `_refresh` fills and which becomes the handle's (or the
        enclosing attempt's) only when the attempt returns. Threads
        sharing a handle thus never publish each other's half-made change,
        nor lose their own to each other's refresh; a failed attempt
        leaves the handle as it was. A nested scope restores the outer one
        on exit."""
        txns = _TXN.__dict__.setdefault("open", {})
        outer = txns.get(id(self))
        txns[id(self)] = txn = [mode, None]
        try:
            yield
        finally:
            if outer is None:
                del txns[id(self)]
            else:
                txns[id(self)] = outer
        meta = txn[1]
        if meta is None:
            return
        with _ADOPT:
            # never step back past a newer commit another thread adopted
            if (
                outer is not None
                or meta["metadata_version"]
                >= self._committed["metadata_version"]
            ):
                self._meta = meta

    def _write_metadata(self) -> None:
        """Publish current in-memory metadata: sharded manifests + pointer.

        O(delta) commits (format_version 2): each snapshot's per-bucket file
        list + stats live in IMMUTABLE sidecar manifest files
        (``metadata/man-*.json``, one per (bucket, version)); the snapshot
        entry in ``v{N}.json`` holds only ``{bucket: manifest_path}`` refs.
        A commit writes new manifests ONLY for buckets it touched — an
        untouched bucket's ref is carried from the parent snapshot (detected
        by identity-fast-path content comparison), so commit bytes scale
        with the statement, not the table: at 10^6-10^8 live files the old
        inline format rewrote hundreds of MB of JSON per epoch and the
        driver serialized all of it inside the commit lock. This is
        Iceberg's manifest/manifest-list split, minus the two-level list
        (per-bucket manifests make the bucket the natural shard key).
        ``version-hint.text`` semantics are unchanged.
        """
        snaps_out = []
        by_id = {s["snapshot_id"]: s for s in self._meta["snapshots"]}
        for s in self._meta["snapshots"]:
            refs = s.get("manifests")
            if refs is None:
                refs = self._shard_snapshot(s, by_id.get(s["parent_id"]))
                s["manifests"] = refs  # cached for the next commit's reuse
            out = {
                k: v
                for k, v in s.items()
                if k not in ("files", "file_stats", "manifests")
            }
            out["manifests"] = refs
            snaps_out.append(out)
        meta_out = {
            k: v for k, v in self._meta.items() if k != "snapshots"
        }
        meta_out["snapshots"] = snaps_out
        meta_out["format_version"] = 2
        v = self._meta["metadata_version"]
        path = os.path.join(self.root, "metadata", f"v{v:06d}.json")
        # honor the protocol the surrounding transaction ENTERED with
        # (_commit_txn pins it); fall back to the property for callers
        # outside a transaction (create, initial bootstrap)
        txn = getattr(_TXN, "open", {}).get(id(self))
        mode = self.commit_mode if txn is None else txn[0]
        if mode == "cas":
            # optimistic commit point: put-if-absent of the next version,
            # atomic WITH its content — write the full JSON to a private
            # temp file, then hard-link it to the final name (link fails
            # with EEXIST when another committer won; a forward-probing
            # reader can never observe a half-written version). On an
            # object store this whole dance is one conditional PUT
            # (S3 If-None-Match / GCS if-generation-match 0), which is
            # atomic-with-content by construction.
            # pid + thread id: two THREADS of one process committing the
            # same version would otherwise share a temp name — one could
            # publish the other's content and report success for a commit
            # that was never persisted, and the loser's cleanup would
            # mask its CommitConflictError with FileNotFoundError
            tmp = path + f".stage{os.getpid()}.{threading.get_ident()}"
            with open(tmp, "w") as f:
                json.dump(meta_out, f)
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise CommitConflictError(
                    f"metadata v{v} already published by another committer"
                ) from None
            finally:
                os.unlink(tmp)
            self._advance_hint(v)
            return
        # flock serializes writer-vs-writer, but READERS are lock-free and
        # probe forward past the hint (see `load`) — publish the version
        # file atomically (temp + rename) so a probing reader can never
        # open a created-but-not-yet-written v{N}.json
        tmp_v = path + f".tmp{os.getpid()}"
        with open(tmp_v, "w") as f:
            json.dump(meta_out, f)
        os.replace(tmp_v, path)
        tmp = os.path.join(self.root, _HINT + ".tmp")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(self.root, _HINT))  # atomic pointer swap

    def _advance_hint(self, v: int) -> None:
        """Best-effort MONOTONIC hint update for CAS mode. Two unlocked
        winners can race the pointer swap out of order, so (a) never move
        the hint backwards we can observe, and (b) readers treat the hint
        as a floor and probe forward to the real maximum (`load`) — the
        Iceberg HadoopTableOperations version-hint contract."""
        try:
            with open(os.path.join(self.root, _HINT)) as f:
                cur = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            cur = 0
        if v <= cur:
            return
        # pid + thread id: two threads of one process may advance at once
        tmp = os.path.join(
            self.root, _HINT + f".tmp{os.getpid()}.{threading.get_ident()}"
        )
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(self.root, _HINT))

    def _shard_snapshot(self, s: dict, parent: dict | None) -> dict:
        """Per-bucket manifest refs for one snapshot dict: reuse the
        parent's ref when the bucket's content is unchanged (object
        identity first — untouched buckets share the parent's list/stat
        objects — falling back to equality), else write a fresh immutable
        manifest file. Cost: O(touched buckets' files) bytes written +
        O(live files) pointer compares."""
        stats = s.get("file_stats") or {}
        prefs = (parent or {}).get("manifests") or {}
        refs: dict[str, str] = {}
        for b, fs in s["files"].items():
            pref = prefs.get(b)
            if pref is not None:
                man = _load_manifest(self.root, pref)
                if _manifest_matches(man, fs, stats):
                    refs[b] = pref
                    continue
            rel = f"metadata/man-{uuid.uuid4().hex[:16]}.json"
            content = {
                "files": fs,
                "stats": {p: stats[p] for p in fs if p in stats},
            }
            with open(os.path.join(self.root, rel), "w") as f:
                json.dump(content, f)
            _MANIFEST_CACHE[os.path.join(self.root, rel)] = content
            refs[b] = rel
        return refs

    def _next_snapshot(
        self,
        operation: str,
        summary: dict,
        files: dict,
        new_stats: dict[str, dict] | None = None,
        stage: bool = False,
        branch: str | None = None,
    ) -> int:
        """Append a snapshot; advance ``current`` unless ``stage`` (WAP).

        ``branch``: commit onto a named branch instead of main — the new
        snapshot's parent is the BRANCH HEAD and only the branch ref
        advances; readers of main see nothing until ``fast_forward``.

        Ids come from max+1 (not current+1): an unpublished staged snapshot
        may hold a higher id than ``current``, and two stages must never
        collide."""
        if branch is not None:
            head = self._meta.get("branches", {}).get(branch)
            if head is None:
                raise KeyError(f"unknown branch {branch!r}")
            cur = next(s for s in self.snapshots if s.snapshot_id == head)
        else:
            cur = self.current_snapshot
        # carry the parent's per-file stats for surviving files, add the
        # newly staged files' stats, drop entries for removed files — the
        # stats map always indexes a subset of the live manifest
        live = {p for fs in files.values() for p in fs}
        stats = {
            p: s
            for p, s in {**cur.file_stats, **(new_stats or {})}.items()
            if p in live
        }
        next_id = max(s["snapshot_id"] for s in self._meta["snapshots"]) + 1
        snap = Snapshot(
            next_id, cur.snapshot_id, int(time.time() * 1000),
            operation, summary, files, stats,
        )
        self._meta["snapshots"].append(snap.to_json())
        if branch is not None:
            self._meta["branches"][branch] = snap.snapshot_id
        elif not stage:
            self._meta["current_snapshot_id"] = snap.snapshot_id
        self._meta["metadata_version"] += 1
        self._write_metadata()
        return snap.snapshot_id

    def _write_data(
        self,
        df: DataFrame,
        salts: int | None = None,
        sort_cols: tuple[str, ...] | None = None,
        kind: str = "w",
    ) -> dict[str, list[str]]:
        """Write df into a new snapshot dir (`_stage_rel` of ``kind``),
        one subdir per bucket.

        ``sort_cols``: clustered-rewrite mode (compaction's read-optimize
        pass). Rows are RANGE-partitioned on ``(_bucket, *sort_cols)`` and
        sorted within each task, so every emitted file covers one
        contiguous key range of one bucket — manifest min/max stats become
        tight and a point lookup prunes to ~1 file. Range partitioning
        replaces the hash salt here (the sampler splits hot buckets across
        tasks by row count, the same skew defense), and
        ``write.max-records-per-file`` (table property) bounds file size so
        a sorted task emits several range-disjoint files instead of one
        giant one.

        The write is hash-distributed on (bucket, salt) with an explicit
        partition count of ``num_buckets * salts``: a hot bucket is spread
        across up to ``salts`` tasks (skew defense for hot conversations)
        while the file count per snapshot stays bounded at buckets x salts —
        no AQE-coalesced single-writer, no small-file explosion.

        Salt count: a key holding fraction ``h`` of the batch lands in one
        bucket, so the slowest write task gets ``h/salts`` of the rows; for
        the write to scale to P cores that must stay <= 1/P, i.e. ``salts >=
        h*P``. Default is P/2 (capped) — safe up to h≈50% hot keys — and the
        ``write.salts`` table property or the ``salts`` arg override it
        (callers writing already-deduped data pass a small value to keep file
        counts low). Salt source is the log sequence number when present
        (unique -> uniform spread); falling back to the first payload column.
        """
        rel = _stage_rel(kind)
        out = os.path.join(self.root, rel)
        if salts is not None:
            salt_k = max(1, salts)
        else:
            prop = self._meta["properties"].get("write.salts")
            if prop is not None:
                salt_k = int(prop)
            else:
                p = df.sparkSession.sparkContext.defaultParallelism
                salt_k = max(2, min(32, (p + 1) // 2))
        for cand in ("_lsn", "lsn"):
            if cand in df.columns:
                salt_src = F.col(cand)
                break
        else:
            non_bucket = [c for c in df.columns if c != self.bucket_col]
            salt_src = F.col(non_bucket[0]) if non_bucket else F.lit(0)
        salt = F.pmod(F.xxhash64(salt_src), F.lit(salt_k))
        with_b = df.withColumn("_bucket", self.bucket_expr())
        if sort_cols:
            part = with_b.repartitionByRange(
                self.num_buckets * salt_k, F.col("_bucket"), *sort_cols
            ).sortWithinPartitions("_bucket", *sort_cols)
            # ephemeral clustering key (operators/zorder.ZCLUSTER_COL):
            # consumed by the range-partition + sort above, never written
            # to data files (a projection after the sort preserves order)
            if "_zcluster" in part.columns:
                part = part.drop("_zcluster")
            max_rows = int(
                self._meta["properties"].get("write.max-records-per-file", 0)
            )
            writer = part.write.mode("overwrite").option(
                "compression", self.write_compression()
            )
            if max_rows > 0:
                writer = writer.option("maxRecordsPerFile", max_rows)
            writer.partitionBy("_bucket").parquet(out)
        else:
            (
                with_b.repartition(
                    self.num_buckets * salt_k, F.col("_bucket"), salt
                )
                .write.mode("overwrite")
                .option("compression", self.write_compression())
                .partitionBy("_bucket")
                .parquet(out)
            )
        files: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(out)):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out, entry)
            files[b] = sorted(
                f"{rel}/{entry}/{fn}"
                for fn in os.listdir(bdir)
                if fn.endswith(".parquet")
            )
        if not files:  # an empty write leaves no staging dir behind
            shutil.rmtree(out, ignore_errors=True)
        return files

    def _write_partition(self, out: str, data_cols: list):
        """`_make_write_partition` for this table's codec and manifest
        stats. Writer-inline manifest stats are opt-in: each write task
        folds running min/max + a bloom distinct-set for the stat columns
        over the Arrow batches it already holds and ships them back as "m"
        rows — the cluster-scale form of `collect_parquet_stats`, which
        would otherwise re-read one column of every new file ON THE DRIVER
        per epoch. Cost when the table has not opted in: zero."""
        man_on = (
            bool(self.stat_bloom_cols())
            or self._meta["properties"].get("stats.on-epoch-append") == "true"
        )
        return _make_write_partition(
            out,
            data_cols,
            man_on,
            [c for c in self.stat_cols() if c in data_cols],
            [c for c in self.stat_bloom_cols() if c in data_cols],
            self.write_compression(),
        )

    def _change_task(
        self, spark: SparkSession, fence_lsn: int | None, dlq: str | None
    ):
        """The task body both change feeders run, bound to a fresh
        ``data/w-*`` staging dir: ``task(sources, part)`` feeds ``(change
        table, epoch)`` pairs through `change_batches` (``part`` names its
        DLQ file) into the shared write generator and yields its output
        batches, then one "q" row per epoch that had rows quarantined.
        Returns ``(rel, task)``."""
        rel = _stage_rel()
        write_partition = self._write_partition(
            os.path.join(self.root, rel), [f.name for f in self.schema.fields]
        )
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        kernel = dict(
            phys_fields=[
                (f.name, _arrow_type(f.dataType, tz)) for f in self.schema.fields
            ],
            bucket_col=self.bucket_col,
            num_buckets=self.num_buckets,
            split=list(self.split_buckets) or None,
            fence=None if fence_lsn is None else int(fence_lsn),
            dlq=dlq,
        )

        def task(sources, part=None):
            quarantined: dict[int, int] = {}
            yield from write_partition(
                change_batches(
                    sources, quarantined=quarantined, part=part, **kernel
                )
            )
            if quarantined:
                yield _out_batch(
                    "q",
                    len(quarantined),
                    epoch=list(quarantined),
                    n=list(quarantined.values()),
                )

        return rel, task

    def write_data_files_direct(
        self,
        changes: DataFrame,
        epoch: int | None = None,
        fence_lsn: int | None = None,
        target_tasks: int | None = None,
        dlq: str | None = None,
    ):
        """DataFrame feeder of the change-batch kernel: stage the raw change
        rows of ``changes`` as bucket files (no commit).

        ``changes.coalesce(target_tasks).mapInArrow(...)``: each task runs
        `change_batches` over its Arrow batches (fence at ``fence_lsn``,
        quarantine into ``dlq`` when given) and the shared write generator.
        ``epoch``: the epoch id of every row; None reads the ``epoch``
        column (a many-epoch bulk batch). Returns ``(files, stat_rows,
        manifest_stats)`` like `write_change_files_direct`."""
        spark = changes.sparkSession
        rel, task = self._change_task(spark, fence_lsn, dlq)

        def run(batches):
            import pyarrow as _pa

            yield from task((_pa.Table.from_batches([b]), epoch) for b in batches)

        p = spark.sparkContext.defaultParallelism
        rows = (
            changes.coalesce(target_tasks or 2 * p)
            .mapInArrow(run, _OUT_DDL)
            .collect()
        )
        return _gather_direct_rows(rows, rel)

    def write_change_files_direct(
        self,
        spark: SparkSession,
        file_epochs: list[tuple[str, int]],
        fence_lsn: int | None = None,
        target_tasks: int | None = None,
        dlq: str | None = None,
    ):
        """File feeder of the change-batch kernel: the JVM never touches
        the data plane.

        ``file_epochs``: (change-log parquet path, epoch id) pairs, split
        into byte-balanced chunks (greedy LPT, largest file first: the
        slowest chunk sets the span). Each chunk opens its files with
        pyarrow and runs `change_batches` (quarantine mask when ``dlq`` is
        given, bootstrap fence at ``fence_lsn``, projection, position and
        key hashes in numpy) over their batches, each file carrying its
        own epoch, into the shared write generator. The input's total
        bytes pick where the chunks run:

        - ``driver``: at most ``spark.sql.files.openCostInBytes``, Spark's
          own estimate of what opening one file costs, the chunks run one
          after another in this process. A 5k-event tail epoch (4 files,
          0.17 MB) writes in ~40 ms here and in ~310 ms as a Spark job,
          which is almost all job overhead.
        - ``tasks``: otherwise one Spark task per chunk. Spark distributes
          only file paths in and manifest rows out, so no row crosses the
          JVM→Python Arrow socket and the JVM decodes nothing. On a real
          cluster the change log lives on shared storage, so a path is as
          readable from an executor as a DataFrame partition would be.

        Both routes write one file per chunk per bucket and return the
        same rows: chunk ``i`` is partition ``i`` of the task route, so
        even the DLQ file names agree. Logs one line per call on the
        ``etl_documentos_spark`` logger.

        Returns ``(files, stat_rows, manifest_stats)``.
        """
        t0 = time.perf_counter()
        rel, task = self._change_task(spark, fence_lsn, dlq)

        sc = spark.sparkContext
        n_chunks = min(target_tasks or 2 * sc.defaultParallelism, len(file_epochs))
        sized = sorted(
            ((os.path.getsize(f), f, e) for f, e in file_epochs), reverse=True
        )
        heap = [(0, i) for i in range(n_chunks)]
        chunks: list[list[tuple[str, int]]] = [[] for _ in range(n_chunks)]
        for sz, f, e in sized:
            load, i = heapq.heappop(heap)
            chunks[i].append((f, e))
            heapq.heappush(heap, (load + sz, i))
        chunks = [c for c in chunks if c]
        in_bytes = sum(sz for sz, _, _ in sized)

        def run(part, chunk_iter):
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            sources = (
                (_pa.Table.from_batches([rb]), epoch)
                for chunk in chunk_iter
                for path, epoch in chunk
                for rb in _pq.ParquetFile(path).iter_batches(batch_size=1 << 16)
            )
            for rb in task(sources, part):
                yield from rb.to_pylist()

        ids = [e for _, e in file_epochs]
        span = f"{min(ids)}..{max(ids)}"
        open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
        if in_bytes <= open_cost:
            route = "driver"
            rows = [r for i, c in enumerate(chunks) for r in run(i, [c])]
        else:
            route = "tasks"
            desc = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"epoch={span} phase=write")
            try:
                rows = (
                    sc.parallelize(chunks, len(chunks))
                    .mapPartitionsWithIndex(run)
                    .collect()
                )
            finally:
                sc.setJobDescription(desc)
        _log.info(
            "write route=%s epochs=%s files=%d chunks=%d bytes=%d rows=%d "
            "ms=%.1f",
            route,
            span,
            len(file_epochs),
            len(chunks),
            in_bytes,
            sum(r["nrows"] for r in rows if r["kind"] == "f"),
            (time.perf_counter() - t0) * 1e3,
        )
        return _gather_direct_rows(rows, rel)

    def append_staged(self, write, lock=None, commit_empty=True, **commit_kw):
        """The one stage → `commit_append` → restage loop of every append.

        ``write(table) -> (files, out, new_stats)`` (the stats-mode return
        shape of the direct writers) writes data files for this handle's
        spec outside any lock; the commit then runs under ``lock`` when
        given (a pipeline's in-process commit lock) and through this
        handle — ``commit_append`` re-reads the metadata itself. A
        concurrent split/rebucket that re-keyed the buckets between the two
        steps fails the commit with ``SpecConflictError``: re-read and
        restage under the fresh transform, at most 5 times. Returns
        ``(snapshot_id, out)``; ``commit_empty=False`` skips the snapshot
        (``snapshot_id`` None) when the staging wrote no file.
        ``commit_kw`` passes through to ``commit_append``."""
        for _ in range(5):
            spec = self.spec_fingerprint()
            files, out, new_stats = write(self)
            if not files and not commit_empty:
                return None, out
            try:
                with lock or contextlib.nullcontext():
                    snap = self.commit_append(
                        files,
                        staged_spec=spec,
                        new_stats=new_stats,
                        **commit_kw,
                    )
                return snap, out
            except SpecConflictError:
                self._refresh()
        raise SpecConflictError("spec kept changing across 5 retries")

    def _stage_shuffled(self, df: DataFrame, salts: int | None):
        """``append_staged`` write step of the shuffled writer."""
        files = self.write_data_files(df, salts=salts)
        return files, None, self._collect_stats(files)

    def _collect_stats(
        self, files: dict[str, list[str]]
    ) -> dict[str, dict] | None:
        """Footer min/max over newly staged files for ``stat_cols()``.

        Runs OUTSIDE the commit flock (staged files are immutable and
        invisible until commit), so the metadata-only critical section
        stays metadata-only."""
        cols = self.stat_cols()
        blooms = self.stat_bloom_cols()
        if not cols and not blooms:
            return None
        flat = [p for fs in files.values() for p in fs]
        return collect_parquet_stats(self.root, flat, cols, bloom_cols=blooms)

    def write_data_files(
        self, df: DataFrame, salts: int | None = None
    ) -> dict[str, list[str]]:
        """Stage data files for a later commit (the expensive, parallel part).

        Decoupled from the metadata commit so concurrent writers can run
        their write jobs in parallel and serialize only the (cheap) commit —
        the two-phase shape real table formats use for optimistic
        concurrency.
        """
        return self._write_data(df, salts=salts)

    def _process_commit_lock(self):
        """Cross-process commit mutex (flock on <root>/.commit.lock).

        Data-file staging is lock-free (files land under unique uuid dirs);
        only the metadata read-merge-write serializes. This is the
        pessimistic variant of Iceberg's optimistic commit protocol — on a
        filesystem, a short exclusive lock beats retry loops. It makes
        MULTIPLE OS PROCESSES (separate executors/JVMs, e.g. one writer per
        epoch shard of a backfill) safe concurrent appenders to one table.
        """
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def lock():
            fd = os.open(
                os.path.join(self.root, ".commit.lock"),
                os.O_CREAT | os.O_RDWR,
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return lock()

    def _refresh(self) -> None:
        """Re-read current metadata from disk (another process may have
        committed since this handle loaded)."""
        self._meta = LakeTable.load(self.root)._meta

    def commit_append(
        self,
        new_files: dict[str, list[str]],
        staged_spec: tuple | None = None,
        new_stats: dict[str, dict] | None = None,
        stage: bool = False,
        branch: str | None = None,
    ) -> int:
        """Commit previously staged files as an append snapshot.

        Safe under concurrent committers (in-process threads AND separate
        processes): the merge against the current snapshot happens after
        re-reading metadata under the commit flock. ``staged_spec`` (the
        ``spec_fingerprint()`` of the handle that staged ``new_files``)
        makes the commit split-safe: if a concurrent split/rebucket changed
        the bucket transform since staging, the commit raises
        ``SpecConflictError`` instead of publishing stale-keyed files.

        ``stage=True`` (write-audit-publish): the snapshot is recorded but
        ``current`` does NOT advance — readers keep seeing the pre-stage
        state until ``publish``. ``branch``: append onto a named branch
        (multi-commit WAP) — the merge base and the advanced ref are the
        branch head, main is untouched. Returns the new snapshot id.
        """
        def _txn():
            if staged_spec is not None and staged_spec != self.spec_fingerprint():
                raise SpecConflictError(
                    f"partition spec changed: staged={staged_spec} "
                    f"current={self.spec_fingerprint()}"
                )
            if branch is not None:
                head = self._meta.get("branches", {}).get(branch)
                if head is None:
                    raise KeyError(f"unknown branch {branch!r}")
                base = next(
                    s for s in self.snapshots if s.snapshot_id == head
                )
            else:
                base = self.current_snapshot
            # untouched buckets carry the parent's list OBJECT (identity =
            # O(1) manifest reuse at write time); only touched buckets copy
            merged = dict(base.files)
            for b, fs in new_files.items():
                merged[b] = list(merged.get(b, [])) + list(fs)
            return self._next_snapshot(
                "append",
                {"buckets_written": len(new_files), **(
                    {"staged": True} if stage else {}
                )},
                merged,
                new_stats=new_stats,
                stage=stage,
                branch=branch,
            )
        return self._commit_txn(_txn)

    def commit_overwrite(
        self,
        new_files: dict[str, list[str]],
        buckets: list[int],
        expected: dict[str, list[str]] | None = None,
        staged_spec: tuple | None = None,
        new_stats: dict[str, dict] | None = None,
        maintenance: bool = False,
    ) -> None:
        """Commit previously staged files as a bucket-replacing snapshot.

        ``maintenance``: mark the snapshot as a logical no-op (compaction's
        read-optimize rewrite) — incremental changelog readers skip it,
        the same way Iceberg's incremental scan skips ``replace``
        (rewrite_data_files) commits but refuses logical overwrites.

        ``expected``: the per-bucket file lists the caller's read (scan) was
        based on. Under the commit flock, files that appeared in an
        overwritten bucket AFTER that scan (a concurrent appender in another
        thread/process) are carried over into the new snapshot instead of
        being silently dropped: the replacement covers exactly the scanned
        files, the survivors stay as delta files and the LWW read reduction
        absorbs them. Without ``expected`` the named buckets' file lists are
        replaced wholesale — only safe when the caller serializes against all
        other writers itself.
        """
        def _txn():
            if staged_spec is not None and staged_spec != self.spec_fingerprint():
                raise SpecConflictError(
                    f"partition spec changed: staged={staged_spec} "
                    f"current={self.spec_fingerprint()}"
                )
            merged = {
                b: list(fs)
                for b, fs in self.current_snapshot.files.items()
                if int(b) not in buckets
            }
            if expected is not None:
                for b in (str(x) for x in buckets):
                    scanned = set(expected.get(b, []))
                    survivors = [
                        f
                        for f in self.current_snapshot.files.get(b, [])
                        if f not in scanned
                    ]
                    if survivors:
                        merged[b] = survivors
            for b, fs in new_files.items():
                merged[b] = fs + merged.get(b, [])
            summary = {"buckets_replaced": sorted(buckets)}
            if maintenance:
                summary["maintenance"] = True
            self._next_snapshot(
                "overwrite", summary, merged, new_stats=new_stats
            )
        return self._commit_txn(_txn)

    def append(
        self,
        df: DataFrame,
        salts: int | None = None,
        branch: str | None = None,
    ) -> None:
        """Append rows (new files only; existing files untouched).
        ``branch`` targets a named branch instead of main (WAP).
        Retries staging if a concurrent split/rebucket changes the spec."""
        return self.append_staged(
            lambda t: t._stage_shuffled(df, salts), branch=branch
        )[0]

    def bucket_sizes(self, buckets: list[int] | None = None) -> dict[int, int]:
        """Per-bucket physical byte size of the current snapshot — driver-
        side ``os.stat`` over the file manifest, zero Spark jobs. The cheap
        skew signal for adaptive salting: at 100 TB the manifest is still
        only O(buckets × files) entries, and byte size tracks row count
        closely for same-schema parquet."""
        out: dict[int, int] = {}
        for b, fs in self.current_snapshot.files.items():
            bi = int(b)
            if buckets is not None and bi not in buckets:
                continue
            total = 0
            for f in fs:
                try:
                    total += os.path.getsize(os.path.join(self.root, f))
                except OSError:
                    pass
            out[bi] = total
        return out

    def overwrite_buckets(
        self, df: DataFrame, buckets: list[int], salts: int | None = None
    ) -> None:
        """Copy-on-write replace of the named buckets with df's rows (a
        materialized view's refresh).

        df must contain only rows belonging to ``buckets``. Untouched
        buckets keep their existing files. The named buckets' file lists
        are replaced wholesale, so the caller serializes against other
        writers of this table. Raises ``SpecConflictError`` if a concurrent
        split/rebucket lands mid-flight.
        """
        spec = self.spec_fingerprint()
        files = self._write_data(df, salts=salts)
        self.commit_overwrite(
            files, buckets, staged_spec=spec, new_stats=self._collect_stats(files)
        )

    # ------------------------------------------------------------ rebucket
    def split_bucket(
        self, spark: SparkSession, bucket: int, salts: int | None = None
    ) -> None:
        """Incrementally split ONE base bucket into two (power-of-two):
        bucket ``b`` (at base count N) becomes ``{b, b + N}`` at 2N hash
        granularity — the per-bucket alternative to `rebucket`'s
        stop-the-world full rewrite at 100 TB.

        Fencing is per-bucket and optimistic, the same two-phase shape as
        compaction: the rewrite of bucket b's files runs LOCK-FREE
        (concurrent appends to OTHER buckets stage and commit freely
        throughout), then the commit flock is taken and the bucket's file
        list is re-checked. If a concurrent append slipped NEW files into
        bucket b after our scan, those delta files are re-split UNDER the
        lock (they are one epoch's worth — small), because an old-spec file
        surviving unsplit would hide its ``b + N`` rows from pruned scans.
        The metadata commit atomically swaps the file manifest and adds b to
        ``split_buckets``; when every base bucket has split, the spec
        normalizes to ``num_buckets = 2N`` with no splits.

        Physical rows (MOR deltas, tombstones, ``_lsn``) are carried
        verbatim — no LWW reduction — so split commutes with compaction.
        Only one split level per base bucket; splitting a child requires
        normalization (all bases split) first.
        """
        import copy

        n = self.num_buckets
        bucket = int(bucket)
        if not 0 <= bucket < n:
            raise ValueError(f"bucket {bucket} out of range 0..{n - 1}")
        if bucket in self.split_buckets:
            raise ValueError(f"bucket {bucket} already split")

        staged_meta = copy.deepcopy(self._meta)
        staged_meta["partition_spec"]["split_buckets"] = sorted(
            set(self.split_buckets) | {bucket}
        )
        staged = LakeTable(self.root, staged_meta)

        # phase 1 (lock-free): rewrite the bucket's current files under the
        # post-split transform; rows land under keys b and b + N
        expected = list(self.current_snapshot.files.get(str(bucket), []))
        if expected:
            # _read_data_files, NOT a bare schema read: after a
            # rename_column, pre-rename files physically hold the old
            # name — a bare read would rewrite the column as NULL here
            # (permanent loss; the old files are dropped at commit)
            df = self._read_data_files(
                spark, [os.path.join(self.root, f) for f in expected]
            )
            new_files = staged._write_data(df, salts=salts)
        else:
            new_files = {}

        def _txn():
            if self.num_buckets != n or bucket in self.split_buckets:
                # a concurrent rebucket (or a duplicate split of the same
                # bucket) re-keyed the table while our rewrite ran: our
                # staged files use a stale transform — abandon them
                raise SpecConflictError(
                    f"spec changed during split of bucket {bucket}: "
                    f"base {n} -> {self.num_buckets}, "
                    f"splits now {self.split_buckets}"
                )
            # per-ATTEMPT copy: a CAS-mode retry re-runs this body, and
            # mutating the closure's new_files would accumulate the
            # previous attempt's survivor re-splits alongside this one's
            # — duplicating every survivor row in the committed manifest
            txn_files = {b: list(fs) for b, fs in new_files.items()}
            current = list(self.current_snapshot.files.get(str(bucket), []))
            survivors = [f for f in current if f not in expected]
            if survivors:
                # a concurrent append hit THIS bucket mid-split: re-split
                # just those delta files under the lock (bounded: one
                # commit's worth of data)
                sdf = self._read_data_files(
                    spark, [os.path.join(self.root, f) for f in survivors]
                )
                extra = staged._write_data(sdf, salts=salts)
                for b, fs in extra.items():
                    txn_files[b] = fs + txn_files.get(b, [])
            merged = {
                b: list(fs)
                for b, fs in self.current_snapshot.files.items()
                if b != str(bucket)
            }
            for b, fs in txn_files.items():
                merged[b] = fs + merged.get(b, [])
            split = sorted(set(self.split_buckets) | {bucket})
            if len(split) == n:
                # fully split: normalize to the doubled base spec
                self._meta["partition_spec"]["num_buckets"] = 2 * n
                self._meta["partition_spec"]["split_buckets"] = []
            else:
                self._meta["partition_spec"]["split_buckets"] = split
            self._next_snapshot(
                "split-bucket",
                {"bucket": bucket, "children": [bucket, bucket + n]},
                merged,
            )
        return self._commit_txn(_txn)

    def rebucket(
        self, spark: SparkSession, new_num_buckets: int, salts: int | None = 2
    ) -> None:
        """Change the bucket count with one snapshot-atomic rewrite.

        A table created at 16 buckets is not stuck there at 100 TB: this
        reads the current snapshot, rewrites every row under
        ``pmod(xxhash64(key), new_n)``, and commits a single ``rebucket``
        snapshot that swaps both the file manifest and the partition spec.
        Readers see either the old bucketing or the new — never a mix — and
        time travel to pre-rebucket snapshots still works (each snapshot's
        files were written under the spec current at its commit; scans read
        file lists, not the spec).

        Physical rows (MOR deltas, tombstones, ``_lsn``) are carried
        verbatim — no LWW reduction happens here, so rebucket commutes with
        compaction. The rewrite runs under the cross-process commit flock:
        unlike compaction (which merges concurrent appends via
        ``expected``), an append staged under the OLD bucket function would
        be misplaced under the new spec, so writers must be fenced for the
        duration. It is an admin operation — at very large scale, run it as
        a scheduled window or implement power-of-two bucket SPLITS (each old
        bucket maps to exactly 2 new ones, enabling per-bucket incremental
        rewrite with the same fencing per bucket).
        """
        if new_num_buckets == self.num_buckets:
            return
        import copy

        def _txn():
            old_n = self.num_buckets
            df = self.scan(spark)
            staged_meta = copy.deepcopy(self._meta)
            staged_meta["partition_spec"]["num_buckets"] = int(new_num_buckets)
            staged_meta["partition_spec"]["split_buckets"] = []
            staged = LakeTable(self.root, staged_meta)
            files = staged._write_data(df, salts=salts)
            self._meta["partition_spec"]["num_buckets"] = int(new_num_buckets)
            self._meta["partition_spec"]["split_buckets"] = []
            self._next_snapshot(
                "rebucket",
                {
                    "num_buckets": int(new_num_buckets),
                    "previous_num_buckets": old_n,
                },
                files,
            )
        return self._commit_txn(_txn)

    # ------------------------------------------------------------------- gc
    def expire_snapshots(
        self, keep_last: int = 2, manifest_grace_seconds: float | None = None
    ) -> int:
        """Expire old snapshots and delete data files no longer referenced.

        Keeps the most recent ``keep_last`` snapshots (time travel window);
        deletes every data file referenced only by expired snapshots.
        Returns the number of files deleted. Runs under the cross-process
        commit flock on fresh metadata, so it can neither delete a file a
        concurrent committer just referenced nor clobber that commit's
        metadata.

        Manifest sidecars orphaned by the expiry are garbage-collected
        only once OLDER than ``manifest_grace_seconds`` (default: the
        ``gc.manifest.grace`` table property, else 60 s): a lock-free
        reader that resolved the previous metadata version an instant ago
        still dereferences the manifests that version points at, so
        instant GC would yank them out from under it (caught by the
        mixed-workload stress). Young manifests survive this pass and the
        NEXT expiry collects them — same lifecycle as the staging grace
        in `remove_orphan_files`. Pass ``0`` only when no concurrent
        readers can exist."""
        if manifest_grace_seconds is None:
            manifest_grace_seconds = float(
                self.get_property("gc.manifest.grace", 60.0)
            )

        def _txn():
            return self._expire_snapshots_locked(
                keep_last, manifest_grace_seconds
            )
        return self._commit_txn(_txn)

    def _expire_snapshots_locked(
        self, keep_last: int, manifest_grace_seconds: float = 60.0
    ) -> int:
        snaps = sorted(self.snapshots, key=lambda s: s.snapshot_id)
        if len(snaps) <= keep_last:
            return 0
        # tagged snapshots are pinned; so is CURRENT (an unpublished WAP
        # stage can out-id the published state, so "newest N" alone could
        # otherwise drop the snapshot readers are on)
        pinned = set(self._meta.get("refs", {}).values())
        pinned.add(self._meta["current_snapshot_id"])
        # branch heads pin their whole ancestor chain down to current:
        # fast_forward's ancestry walk must survive expiry. Bounded by
        # branch length for a live branch; a STALE branch (forked before
        # a retired main chain) pins its full chain — drop such branches
        # rather than letting them hold history.
        cur_id = self._meta["current_snapshot_id"]
        by_id = {s.snapshot_id: s for s in snaps}
        for head in self._meta.get("branches", {}).values():
            sid: int | None = head
            while sid is not None and sid != cur_id:
                pinned.add(sid)
                snap = by_id.get(sid)
                sid = snap.parent_id if snap is not None else None
        kept = snaps[-keep_last:] + [
            s for s in snaps[:-keep_last] if s.snapshot_id in pinned
        ]
        kept_ids = {s.snapshot_id for s in kept}
        expired = [s for s in snaps if s.snapshot_id not in kept_ids]
        if not expired:
            return 0
        live: set[str] = set()
        for s in kept:
            for fs in s.files.values():
                live.update(fs)
        dead: set[str] = set()
        for s in expired:
            for fs in s.files.values():
                dead.update(f for f in fs if f not in live)
        # carry each kept snapshot's manifest refs (to_json drops them);
        # re-sharding here would rewrite the whole live manifest set
        old_by_id = {s["snapshot_id"]: s for s in self._meta["snapshots"]}
        kept_dicts = []
        for s in sorted(kept, key=lambda s: s.snapshot_id):
            d = s.to_json()
            refs = old_by_id.get(s.snapshot_id, {}).get("manifests")
            if refs is not None:
                d["manifests"] = refs
            kept_dicts.append(d)
        self._meta["snapshots"] = kept_dicts
        self._meta["metadata_version"] += 1
        self._write_metadata()
        # physical deletes AFTER the commit point: if a CAS-mode conflict
        # retries this transaction (e.g. a concurrent tag pinned a
        # snapshot we were expiring), no file has been touched yet; after
        # a successful commit the dead set is unreachable from current
        # metadata, so deletion is safe and idempotent across crashes
        for rel in dead:
            full = os.path.join(self.root, rel)
            crc = os.path.join(
                os.path.dirname(full), "." + os.path.basename(full) + ".crc"
            )
            for p in (full, crc):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        # manifest GC: sidecars referenced only by expired snapshots are
        # unreachable from the current metadata version — but a lock-free
        # reader may have resolved the PREVIOUS version microseconds ago
        # and still be dereferencing its manifest refs, so only collect
        # sidecars past the grace age; the next expiry sweeps the rest
        live_mans = {
            rel
            for s in self._meta["snapshots"]
            for rel in (s.get("manifests") or {}).values()
        }
        mdir = os.path.join(self.root, "metadata")
        now = time.time()
        for name in os.listdir(mdir):
            if not name.startswith("man-"):
                continue
            if f"metadata/{name}" in live_mans:
                continue
            full = os.path.join(mdir, name)
            try:
                if now - os.path.getmtime(full) < manifest_grace_seconds:
                    continue
                os.remove(full)
            except FileNotFoundError:
                pass
            _MANIFEST_CACHE.pop(full, None)
        return len(dead)

    # ------------------------------------------------------------ refs
    @property
    def refs(self) -> dict[str, int]:
        """Named snapshot references (Iceberg tags): name -> snapshot_id.
        A tagged snapshot is pinned — ``expire_snapshots`` keeps it (and
        its files) until the tag is dropped."""
        return dict(self._meta.get("refs", {}))

    def resolve_ref(self, ref: str) -> int:
        """Resolve a named ref to a snapshot id: tags first, then branch
        heads (tag/branch name collisions are rejected at creation)."""
        refs = self._meta.get("refs", {})
        if ref in refs:
            return refs[ref]
        branches = self._meta.get("branches", {})
        if ref in branches:
            return branches[ref]
        raise KeyError(f"unknown ref {ref!r}")

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a name (``ALTER TABLE ... CREATE TAG``).
        Defaults to the current snapshot. Metadata-only commit."""
        def _txn():
            sid = (
                self.current_snapshot.snapshot_id
                if snapshot_id is None
                else snapshot_id
            )
            if all(s.snapshot_id != sid for s in self.snapshots):
                raise KeyError(f"unknown snapshot {sid}")
            if name in self._meta.get("branches", {}):
                raise ValueError(f"a branch named {name!r} already exists")
            self._meta.setdefault("refs", {})[name] = sid
            self._meta["metadata_version"] += 1
            self._write_metadata()
            return sid
        return self._commit_txn(_txn)

    def drop_tag(self, name: str) -> None:
        def _txn():
            refs = self._meta.get("refs", {})
            if name not in refs:
                raise KeyError(f"unknown tag {name!r}")
            del refs[name]
            self._meta["metadata_version"] += 1
            self._write_metadata()
        return self._commit_txn(_txn)

    # ------------------------------------------------------------- branches
    @property
    def branches(self) -> dict[str, int]:
        """Named BRANCH refs (Iceberg branches): name -> head snapshot_id.

        Unlike a tag, a branch ADVANCES: ``append(..., branch=name)`` /
        ``commit_append(..., branch=name)`` commit onto the branch head
        and move the ref, while main (``current``) is untouched. The
        multi-commit write-audit-publish flow: create a branch, land any
        number of commits on it, audit with ``scan(ref=name)``, then
        ``fast_forward(name)`` publishes the whole chain with one
        metadata pointer swap. Branch heads and their ancestor chains are
        pinned against ``expire_snapshots`` until the branch is dropped."""
        return dict(self._meta.get("branches", {}))

    def create_branch(
        self,
        name: str,
        snapshot_id: int | None = None,
        replace: bool = False,
    ) -> int:
        """Create a branch at ``snapshot_id`` (default: current). The name
        must not collide with a tag — reads resolve tags first, so a
        shadowed branch would be unreachable."""
        def _txn():
            if name in self._meta.get("refs", {}):
                raise ValueError(f"a tag named {name!r} already exists")
            branches = self._meta.setdefault("branches", {})
            if name in branches and not replace:
                raise ValueError(f"branch {name!r} already exists")
            sid = (
                self.current_snapshot.snapshot_id
                if snapshot_id is None
                else snapshot_id
            )
            if all(s.snapshot_id != sid for s in self.snapshots):
                raise KeyError(f"unknown snapshot {sid}")
            branches[name] = sid
            self._meta["metadata_version"] += 1
            self._write_metadata()
            return sid
        return self._commit_txn(_txn)

    def drop_branch(self, name: str) -> None:
        """Drop a branch ref. Branch-only snapshots lose their pin and
        become ordinary ``expire_snapshots`` candidates."""
        def _txn():
            branches = self._meta.get("branches", {})
            if name not in branches:
                raise KeyError(f"unknown branch {name!r}")
            del branches[name]
            self._meta["metadata_version"] += 1
            self._write_metadata()
        return self._commit_txn(_txn)

    def fast_forward(self, name: str) -> int:
        """Publish a branch: fast-forward main to the branch head.

        Valid only when current is an ANCESTOR of the branch head (the
        branch strictly extends main). If main advanced since the fork,
        raises ``SpecConflictError`` — rebase by replaying the branch's
        commits onto a fresh branch, exactly Iceberg's
        ``fast_forward('main', branch)`` conflict rule. The branch ref
        survives the publish (it now equals main) until dropped."""
        def _txn():
            branches = self._meta.get("branches", {})
            if name not in branches:
                raise KeyError(f"unknown branch {name!r}")
            head = branches[name]
            cur = self._meta["current_snapshot_id"]
            by_id = {s.snapshot_id: s for s in self.snapshots}
            sid: int | None = head
            while sid is not None and sid != cur:
                snap = by_id.get(sid)
                sid = snap.parent_id if snap is not None else None
            if sid != cur:
                raise SpecConflictError(
                    f"cannot fast-forward: current snapshot {cur} is not "
                    f"an ancestor of branch {name!r} head {head}"
                )
            if head != cur:
                self._meta["current_snapshot_id"] = head
                self._meta["metadata_version"] += 1
                self._write_metadata()
            return head
        return self._commit_txn(_txn)

    # --------------------------------------------- write-audit-publish (WAP)
    def stage_append(self, df: DataFrame, salts: int | None = None) -> int:
        """Write-audit-publish, stage phase (Iceberg WAP): write and record
        an append snapshot WITHOUT advancing ``current``. Readers are
        unaffected; the auditor inspects the staged state with
        ``scan(snapshot_id=staged_id)`` and then calls ``publish`` (one
        metadata pointer swap) or ``discard_staged``. Returns the staged
        snapshot id."""
        return self.append_staged(
            lambda t: t._stage_shuffled(df, salts), stage=True
        )[0]

    def publish(self, snapshot_id: int) -> None:
        """Fast-forward ``current`` to a staged snapshot — the audit passed.

        Optimistic-concurrency validated: if another commit advanced the
        table since the stage (the staged manifest no longer extends
        ``current``), raises ``SpecConflictError`` — re-stage against the
        new state, exactly Iceberg's cherry-pick conflict rule."""
        def _txn():
            snap = next(
                (s for s in self.snapshots if s.snapshot_id == snapshot_id),
                None,
            )
            if snap is None:
                raise KeyError(f"unknown snapshot {snapshot_id}")
            cur = self.current_snapshot.snapshot_id
            if snap.parent_id != cur:
                raise SpecConflictError(
                    f"staged snapshot {snapshot_id} has parent "
                    f"{snap.parent_id} but current is {cur}; re-stage"
                )
            self._meta["current_snapshot_id"] = snapshot_id
            self._meta["metadata_version"] += 1
            self._write_metadata()
        return self._commit_txn(_txn)

    def discard_staged(self, snapshot_id: int) -> int:
        """Drop an unpublished staged snapshot — the audit failed.

        Deletes the files only it referenced and removes it from history.
        Refuses to drop the current snapshot, a snapshot with descendants,
        or a tagged one. Returns files deleted."""
        def _txn():
            snap = next(
                (s for s in self.snapshots if s.snapshot_id == snapshot_id),
                None,
            )
            if snap is None:
                raise KeyError(f"unknown snapshot {snapshot_id}")
            if any(s.parent_id == snapshot_id for s in self.snapshots):
                raise ValueError(
                    f"snapshot {snapshot_id} has descendants; not staged?"
                )
            if snapshot_id == self.current_snapshot.snapshot_id:
                raise ValueError("cannot discard the current snapshot")
            if snapshot_id in set(self._meta.get("refs", {}).values()):
                raise ValueError(f"snapshot {snapshot_id} is tagged")
            if snapshot_id in set(self._meta.get("branches", {}).values()):
                raise ValueError(
                    f"snapshot {snapshot_id} is a branch head"
                )
            others: set[str] = set()
            for s in self.snapshots:
                if s.snapshot_id == snapshot_id:
                    continue
                for fs in s.files.values():
                    others.update(fs)
            dead = [
                f
                for fs in snap.files.values()
                for f in fs
                if f not in others
            ]
            for rel in dead:
                full = os.path.join(self.root, rel)
                for p in (
                    full,
                    os.path.join(
                        os.path.dirname(full),
                        "." + os.path.basename(full) + ".crc",
                    ),
                ):
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass
            # carry each kept snapshot's manifest refs (to_json drops
            # them) — the same rule as _expire_snapshots_locked: losing
            # the refs would make the next _write_metadata re-shard and
            # rewrite the WHOLE live manifest set, O(live files) JSON
            old_by_id = {
                s["snapshot_id"]: s for s in self._meta["snapshots"]
            }
            kept_dicts = []
            for s in self.snapshots:
                if s.snapshot_id == snapshot_id:
                    continue
                d = s.to_json()
                refs = old_by_id.get(s.snapshot_id, {}).get("manifests")
                if refs is not None:
                    d["manifests"] = refs
                kept_dicts.append(d)
            self._meta["snapshots"] = kept_dicts
            self._meta["metadata_version"] += 1
            self._write_metadata()
            return len(dead)
        return self._commit_txn(_txn)

    def rollback(self, snapshot_id: int) -> None:
        """Restore the table's visible state to an earlier snapshot.

        Appends a NEW ``rollback`` snapshot whose manifest is a copy of the
        target's (Iceberg ``rollback_to_snapshot``): history is preserved,
        nothing is deleted, and subsequent commits build on the restored
        state — the bad-data recovery path. Changelog readers treat a
        rollback like a logical overwrite (rows vanished; a manifest diff
        cannot express that), so CDC-out consumers must resync across one.
        """
        def _txn():
            target = next(
                (s for s in self.snapshots if s.snapshot_id == snapshot_id),
                None,
            )
            if target is None:
                raise KeyError(f"unknown snapshot {snapshot_id}")
            self._next_snapshot(
                "rollback",
                {"to": snapshot_id},
                dict(target.files),
                new_stats=dict(target.file_stats),
            )
        return self._commit_txn(_txn)

    def get_property(self, key: str, default=None):
        """Read one table property from current metadata (no refresh)."""
        return self._meta["properties"].get(key, default)

    @property
    def properties(self) -> dict:
        """All table properties (a copy) from current metadata."""
        return dict(self._meta["properties"])

    def set_property(self, key: str, value) -> None:
        """Set one table property as a metadata-only commit (Iceberg
        ``ALTER TABLE ... SET TBLPROPERTIES``). Used by derived-table
        maintainers to persist sync watermarks next to the data they
        describe — crash-safe because the property lands in the same
        versioned metadata chain as every other commit."""
        def _txn():
            self._meta["properties"][key] = value
            self._meta["metadata_version"] += 1
            self._write_metadata()
        return self._commit_txn(_txn)

    def remove_properties(
        self, keys: list[str], if_exists: bool = False
    ) -> list[str]:
        """Remove table properties as one metadata-only commit (Iceberg
        ``ALTER TABLE ... UNSET TBLPROPERTIES``). Returns the keys actually
        removed; unknown keys raise unless ``if_exists``."""
        removed: list[str] = []

        def _txn():
            removed.clear()  # _commit_txn may retry the body on conflict
            props = self._meta["properties"]
            missing = [k for k in keys if k not in props]
            if missing and not if_exists:
                raise KeyError(f"no such table propert(ies): {missing}")
            for k in keys:
                if k in props:
                    del props[k]
                    removed.append(k)
            self._meta["metadata_version"] += 1
            self._write_metadata()

        self._commit_txn(_txn)
        return removed

    def remove_orphan_files(self, grace_seconds: float = 3600.0) -> int:
        """Delete data files on disk that NO snapshot references.

        Orphans come from writers that staged files and crashed before
        commit (staging is lock-free and invisible until commit, so a crash
        leaks the files silently). Iceberg's ``remove_orphan_files``
        analogue. ``grace_seconds`` protects in-flight staging: a file
        younger than the grace window may belong to a writer that has not
        committed YET, so it is kept — with the default 1h no healthy
        commit can straddle the window. Runs under the commit flock so the
        referenced-set is a consistent read; returns files deleted.
        """
        import time as _time

        def _txn():
            referenced: set[str] = set()
            for s in self.snapshots:
                for fs in s.files.values():
                    referenced.update(fs)
            cutoff = _time.time() - grace_seconds
            data_root = os.path.join(self.root, "data")
            removed = 0
            for dirpath, _dirs, names in os.walk(data_root):
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, self.root)
                    if rel in referenced:
                        continue
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue
                        os.remove(full)
                    except FileNotFoundError:
                        continue
                    crc = os.path.join(dirpath, "." + name + ".crc")
                    try:
                        os.remove(crc)
                    except FileNotFoundError:
                        pass
                    removed += 1
            return removed
        return self._commit_txn(_txn)

    # ----------------------------------------------------- schema evolution
    def add_columns(self, fields: list[T.StructField]) -> None:
        """Additive schema evolution: metadata-only, zero data files touched.

        Mirrors Iceberg ``ALTER TABLE ... ADD COLUMNS`` (and the reference's
        Alembic autogenerate-upgrade flow,
        ``/root/reference/app/database/migrations.py:49-107``).
        """
        def _txn():
            cur = self.schema
            existing = {f.name for f in cur.fields}
            added = [f for f in fields if f.name not in existing]
            if not added:
                return
            retired = self._retired_names()
            for f in added:
                if not f.nullable:
                    raise ValueError(
                        f"added column {f.name} must be nullable"
                    )
                if f.name in retired:
                    # name-based mapping (no Iceberg field ids): reusing a
                    # dropped/renamed-away name would resurrect the stale
                    # values still physically present in old data files
                    raise ValueError(
                        f"column name {f.name!r} was previously dropped or "
                        "renamed away; reusing it would resurrect stale "
                        "values from pre-evolution data files"
                    )
            new_schema = T.StructType(list(cur.fields) + added)
            self._meta["schema"] = new_schema.jsonValue()
            self._meta["schema_version"] += 1
            self._next_snapshot(
                "add-columns",
                {"added": [f.name for f in added]},
                self.current_snapshot.files,
            )
        return self._commit_txn(_txn)

    def _retired_names(self) -> set[str]:
        """Column names no longer addressable but possibly still physically
        present in pre-evolution data files: dropped columns plus every
        historical name of a renamed column. New columns must not reuse
        them (name-based mapping has no field ids to disambiguate)."""
        out = set(self._meta.get("dropped_columns", []))
        for hist in self._meta.get("renamed_columns", {}).values():
            out.update(hist)
        return out

    def _protected_columns(self) -> set[str]:
        """Columns structural to the engine: the partition source column,
        the underscore-prefixed system columns (``_deleted``/``_lsn``
        carry the merge/tombstone semantics), and the CDC contract
        columns — the merge keys and the LWW order column ``ts``.
        Dropping or renaming any of these commits fine (metadata-only)
        but bricks every subsequent merge/compaction/read through the
        CDC reducers (they address KEY_COLS + ts by name), so the door
        refuses — CTAS enforces exactly these columns at creation."""
        from etl_documentos_spark.schemas import KEY_COLS

        present = {f.name for f in self.schema.fields}
        return (
            {self.bucket_col}
            | {n for n in self.schema.fieldNames() if n.startswith("_")}
            | ({*KEY_COLS, "ts"} & present)
        )

    def drop_columns(self, names: list[str]) -> None:
        """Drop columns: metadata-only, ZERO data files touched.

        The dropped column simply leaves the table schema; `scan` reads
        with an explicit schema, so the parquet reader never materializes
        the orphaned physical column again (Iceberg ``ALTER TABLE ... DROP
        COLUMN`` read semantics — the bytes stay in old files until
        compaction naturally rewrites them out). The name is retired
        permanently: re-adding it would silently resurrect the stale
        values in pre-drop files, so `add_columns` rejects retired names.
        Partition-source and system columns cannot be dropped.

        Reference behavior analogue: schema pruning on the extraction
        side, ``/root/reference/app/core/document_tracking.py:127-137``
        (fields removed from the required set stop being read, stored
        rows are not rewritten)."""
        def _txn():
            cur = self.schema
            have = {f.name for f in cur.fields}
            missing = [n for n in names if n not in have]
            if missing:
                raise KeyError(f"no such column(s): {missing}")
            bad = sorted(set(names) & self._protected_columns())
            if bad:
                raise ValueError(
                    f"cannot drop partition/system column(s): {bad}"
                )
            drop = set(names)
            new_schema = T.StructType(
                [f for f in cur.fields if f.name not in drop]
            )
            retired = self._meta.setdefault("dropped_columns", [])
            ren = self._meta.setdefault("renamed_columns", {})
            for n in names:
                # a dropped renamed column retires its whole name history
                retired.extend(ren.pop(n, []))
                retired.append(n)
            self._meta["schema"] = new_schema.jsonValue()
            self._meta["schema_version"] += 1
            self._next_snapshot(
                "drop-columns",
                {"dropped": sorted(drop)},
                self.current_snapshot.files,
            )
        return self._commit_txn(_txn)

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column: metadata-only, ZERO data files touched.

        Files written before the rename keep the old physical name;
        `scan` widens its read schema with the historical names and folds
        them back via ``coalesce`` (each file physically holds exactly one
        of the names, so the fold is exact). Chained renames accumulate
        the history (a->b->c reads all three physical names). The new
        name must be globally fresh — not live, not dropped, not a prior
        historical name — because name-based mapping cannot disambiguate
        a reused name from the stale bytes in old files. Partition-source
        and system columns cannot be renamed (the bucket transform and
        merge semantics are bound to their names)."""
        def _txn():
            cur = self.schema
            have = {f.name for f in cur.fields}
            if old not in have:
                raise KeyError(f"no such column: {old!r}")
            if old in self._protected_columns():
                raise ValueError(
                    f"cannot rename partition/system column {old!r}"
                )
            if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", new):
                raise ValueError(f"invalid column name {new!r}")
            if new in have or new in self._retired_names():
                raise ValueError(
                    f"column name {new!r} already in use (live, dropped, "
                    "or historical)"
                )
            new_schema = T.StructType(
                [
                    T.StructField(new, f.dataType, f.nullable)
                    if f.name == old
                    else f
                    for f in cur.fields
                ]
            )
            ren = self._meta.setdefault("renamed_columns", {})
            hist = ren.pop(old, [])
            hist.append(old)
            ren[new] = hist
            self._meta["schema"] = new_schema.jsonValue()
            self._meta["schema_version"] += 1
            self._next_snapshot(
                "rename-column",
                {"from": old, "to": new},
                self.current_snapshot.files,
            )
        return self._commit_txn(_txn)
