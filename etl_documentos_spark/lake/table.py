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

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HINT = "version-hint.text"


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
    (what `mapInArrow` batches carry), so the file-driven writer's parquet
    schemas are bit-identical to the DataFrame writer's."""
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


def _gather_direct_rows(rows, rel: str, stats: bool):
    """Fold the direct writers' manifest/stats output rows (pyspark Rows or
    plain dicts — both index by name) into (files[, stat_rows], manifest)."""
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
    if stats:
        return files, stat_rows, manifest or None
    return files, manifest or None


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


def _make_write_partition(
    out: str,
    data_cols: list,
    stats: bool,
    with_key_sketch: bool,
    man_on: bool,
    man_cols: list,
    man_blooms: list,
    codec: str,
):
    """Build the per-task Arrow write generator shared by BOTH direct
    writers: the DataFrame path (`LakeTable._write_data_direct`, batches
    arrive from the JVM via mapInArrow) and the file-driven path
    (`write_change_files_direct`, batches are read from change-log parquet
    in-process — the JVM never touches the data). One code path means the
    two writers produce bit-identical files, stats rows, sketches and
    manifest entries for the same input batches."""
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
            if stats:
                # fingerprint chunks from the JVM row hash. Arithmetic
                # shift + mask on signed int64 == Spark's
                # shiftrightunsigned + mask: the mask keeps only bits
                # below the sign-extension, so the chunk values agree
                # bit-for-bit with commitlog.hash_chunk_exprs.
                h = tbl.column("_h")
                m22 = _pa.scalar(0x3FFFFF, _pa.int64())
                m20 = _pa.scalar(0xFFFFF, _pa.int64())
                has_ts = "ts" in tbl.schema.names
                part = _pa.table(
                    {
                        "epoch": tbl.column("epoch"),
                        "sp": tbl.column("source_partition"),
                        "h0": _pc.bit_wise_and(h, m22),
                        "h1": _pc.bit_wise_and(
                            _pc.shift_right(h, 22), m22
                        ),
                        "h2": _pc.bit_wise_and(
                            _pc.shift_right(h, 44), m20
                        ),
                        "ndel": _pc.cast(
                            tbl.column("_deleted"), _pa.int64()
                        ),
                        "lsn": tbl.column("_lsn"),
                        # event-time watermark in EPOCH MICROS (int64):
                        # a tz-aware Arrow timestamp's storage is UTC
                        # micros, so the int64 view is independent of the
                        # Spark session timezone — naive-timestamp stats
                        # would shift by the session UTC offset instead
                        "ts": (
                            _pc.cast(
                                _pc.cast(
                                    tbl.column("ts"),
                                    _pa.timestamp("us"),
                                    safe=False,
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
                            ("h0", "sum"),
                            ("h1", "sum"),
                            ("h2", "sum"),
                            ("ndel", "sum"),
                            ("lsn", "max"),
                            ("lsn", "count"),
                            ("ts", "max"),
                        ]
                    )
                )
                if with_key_sketch:
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

        out_schema = _pa.schema(
            [
                ("kind", _pa.string()),
                ("bucket", _pa.int32()),
                ("path", _pa.string()),
                ("nrows", _pa.int64()),
                ("epoch", _pa.int32()),
                ("sp", _pa.int32()),
                ("h0", _pa.int64()),
                ("h1", _pa.int64()),
                ("h2", _pa.int64()),
                ("n", _pa.int64()),
                ("ndel", _pa.int64()),
                ("max_lsn", _pa.int64()),
                ("max_ts", _pa.int64()),
                ("sketch", _pa.binary()),
                ("stats_json", _pa.string()),
            ]
        )
        nil = [None] * len(names)
        if writers:
            yield _pa.RecordBatch.from_pydict(
                {
                    "kind": ["f"] * len(names),
                    "bucket": list(names.keys()),
                    "path": list(names.values()),
                    "nrows": [counts[b] for b in names],
                    "epoch": nil,
                    "sp": nil,
                    "h0": nil,
                    "h1": nil,
                    "h2": nil,
                    "n": nil,
                    "ndel": nil,
                    "max_lsn": nil,
                    "max_ts": nil,
                    "sketch": nil,
                    "stats_json": nil,
                },
                schema=out_schema,
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
                nm = [None] * len(mstats)
                yield _pa.RecordBatch.from_pydict(
                    {
                        "kind": ["m"] * len(mstats),
                        "bucket": list(mstats.keys()),
                        "path": [names[b] for b in mstats],
                        "nrows": nm,
                        "epoch": nm,
                        "sp": nm,
                        "h0": nm,
                        "h1": nm,
                        "h2": nm,
                        "n": nm,
                        "ndel": nm,
                        "max_lsn": nm,
                        "max_ts": nm,
                        "sketch": nm,
                        "stats_json": list(mstats.values()),
                    },
                    schema=out_schema,
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
            k = merged.num_rows
            none_s = [None] * k
            yield _pa.RecordBatch.from_pydict(
                {
                    "kind": ["s"] * k,
                    "bucket": _pa.nulls(k, _pa.int32()),
                    "path": none_s,
                    "nrows": none_s,
                    "epoch": _pc.cast(
                        merged.column("epoch"), _pa.int32(), safe=False
                    ).combine_chunks(),
                    "sp": _pc.cast(
                        merged.column("sp"), _pa.int32(), safe=False
                    ).combine_chunks(),
                    "h0": _pc.cast(
                        merged.column("h0_sum_sum"), _pa.int64()
                    ).combine_chunks(),
                    "h1": _pc.cast(
                        merged.column("h1_sum_sum"), _pa.int64()
                    ).combine_chunks(),
                    "h2": _pc.cast(
                        merged.column("h2_sum_sum"), _pa.int64()
                    ).combine_chunks(),
                    "n": merged.column("lsn_count_sum").combine_chunks(),
                    "ndel": merged.column("ndel_sum_sum").combine_chunks(),
                    "max_lsn": merged.column("lsn_max_max").combine_chunks(),
                    "max_ts": _pc.cast(
                        merged.column("ts_max_max"), _pa.int64()
                    ).combine_chunks(),
                    "sketch": [None] * k,
                    "stats_json": [None] * k,
                },
                schema=out_schema,
            )
        if sketches:
            ks = sorted(sketches)
            nk = len(ks)
            none_k = [None] * nk
            yield _pa.RecordBatch.from_pydict(
                {
                    "kind": ["l"] * nk,
                    "bucket": _pa.nulls(nk, _pa.int32()),
                    "path": none_k,
                    "nrows": none_k,
                    "epoch": [int(k) >> 20 for k in ks],
                    "sp": [int(k) & ((1 << 20) - 1) for k in ks],
                    "h0": none_k,
                    "h1": none_k,
                    "h2": none_k,
                    "n": none_k,
                    "ndel": none_k,
                    "max_lsn": none_k,
                    "max_ts": none_k,
                    "sketch": [sketches[k].tobytes() for k in ks],
                    "stats_json": none_k,
                },
                schema=out_schema,
            )

    return write_partition


class LakeTable:
    """A bucket-partitioned, snapshot-versioned parquet table."""

    def __init__(self, root: str, meta: dict):
        self.root = root
        self._meta = meta

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
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either ref or snapshot_id, not both")
            snapshot_id = self.resolve_ref(ref)
        snap = (
            self.current_snapshot
            if snapshot_id is None
            else next(s for s in self.snapshots if s.snapshot_id == snapshot_id)
        )
        stats = snap.file_stats if prune else {}
        files: list[str] = []
        for b, fs in snap.files.items():
            if buckets is not None and int(b) not in buckets:
                continue
            for p in fs:
                if prune and not self._stats_overlap(stats.get(p), prune):
                    continue
                files.append(os.path.join(self.root, p))
        return self._read_data_files(spark, files)

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
        ren = self._meta.get("renamed_columns", {})
        live = {f.name for f in self.schema.fields}
        ren = {k: v for k, v in ren.items() if k in live}
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
        committer wins the version (losers' in-memory ``_meta`` mutations
        are discarded by the next ``_refresh``). Deterministic linear
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
                with self._process_commit_lock():
                    self._refresh()
                    if self.commit_mode == "cas":
                        continue  # flipped under us: redo as CAS
                    self._txn_commit_mode = "flock"
                    try:
                        return body()
                    finally:
                        del self._txn_commit_mode
            else:
                last: Exception | None = None
                flipped = False
                for attempt in range(200):
                    self._refresh()
                    if self.commit_mode != "cas":
                        flipped = True
                        break
                    self._txn_commit_mode = "cas"
                    try:
                        return body()
                    except CommitConflictError as e:
                        last = e
                        time.sleep(min(0.002 * attempt, 0.05))
                    finally:
                        del self._txn_commit_mode
                if flipped:
                    continue  # flipped under us: redo under the lock
                raise CommitConflictError(
                    f"lost 200 consecutive commit races on {self.root}"
                ) from last
        raise CommitConflictError(
            f"commit.mode flipped repeatedly during a transaction on "
            f"{self.root}"
        )

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
        mode = getattr(self, "_txn_commit_mode", None) or self.commit_mode
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
            import threading

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
        tmp = os.path.join(self.root, _HINT + f".tmp{os.getpid()}")
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
    ) -> dict[str, list[str]]:
        """Write df into a new snapshot dir, one subdir per bucket.

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
        rel = f"data/w-{uuid.uuid4().hex[:12]}"
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
        return files

    def _write_data_direct(
        self,
        df: DataFrame,
        target_tasks: int | None = None,
        stats: bool = False,
    ):
        """Shuffle-free Arrow-native append writer (Hudi ``bulk_insert`` /
        Iceberg unsorted-write shape).

        Each input task partitions its own Arrow batches by bucket locally
        and streams them into per-(task, bucket) parquet files written
        DIRECTLY to their final (uuid) names — no repartition shuffle, no
        Hadoop FileOutputCommitter temp/rename churn, no checksum sidecars.
        The task yields one manifest batch ``(bucket, path, nrows)``; the
        snapshot commit is metadata-only, so a retried task leaves only
        invisible orphan files (swept by `expire_snapshots`), exactly the
        real-Iceberg failure contract.

        Why this scales where the shuffled writer cannot: the append's only
        job is to get rows into *some* file of the right bucket. Grouping
        rows by (bucket, salt) first costs a full shuffle (write + fetch of
        the whole batch through one shared disk) purely to control file
        count, and the salted writer tasks inherit the hot conversation that
        the source partitions had already spread out. Writing from source
        partitions keeps the input's balance (a binlog tail interleaves
        conversations across shards), does zero extra I/O, and needs no salt
        at all. File count is bounded by ``coalesce`` to
        ``target_tasks × buckets-per-task`` and reduced later by compaction,
        which is the standard bulk-ingest trade.

        Python touches data only as Arrow batches (vectorized C++ filter +
        parquet encode); no per-row Python.

        ``stats``: single-pass mode for the exactly-once bookkeeping. The
        caller adds sidecar columns — ``_h`` (`commitlog.position_hash`),
        ``epoch``, ``source_partition``, and optionally ``_ch`` (xxhash64
        of ``conv_id``) — which are NOT written to parquet;
        instead the writer aggregates, per (epoch, source_partition) and
        fully in Arrow C++ (group_by), the fingerprint chunk sums
        (h0/h1/h2, same split as ``commitlog.hash_chunk_exprs``),
        event/delete counts and max LSN, and yields them alongside the
        file manifest. When ``_ch`` is present it additionally folds a
        per-(epoch, sp) HyperLogLog register sketch over the key hashes
        (``kind="l"`` rows, 1 KiB binary each) so the caller gets the
        distinct-conversation lineage counter from the SAME pass — no
        second scan of the batch anywhere. One scan of the input instead
        of a stats pass + an append pass (+ a distinct pass) — the
        scan/decode/hash is the dominant memory traffic at scale, so
        cutting passes directly buys scaling headroom.
        """
        rel = f"data/w-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.root, rel)
        os.makedirs(out, exist_ok=True)
        p = df.sparkSession.sparkContext.defaultParallelism
        target = target_tasks or 2 * p
        with_b = df.withColumn(
            "_bucket", self.bucket_expr().cast("int")
        ).coalesce(target)

        sidecar = ["_h", "_ch", "epoch", "source_partition"] if stats else []
        data_cols = [c for c in df.columns if c not in sidecar]
        with_key_sketch = stats and "_ch" in df.columns

        # writer-inline manifest stats (opt-in): each write task folds
        # running min/max + a bloom distinct-set for the stat columns for
        # the stat columns over the Arrow batches it already holds and
        # ships them back as "m" rows — the cluster-scale form of
        # `collect_parquet_stats`, which would otherwise re-read one column
        # of every new file ON THE DRIVER per epoch (a driver bottleneck at
        # 1000 executors). Cost when the table has not opted in: zero.
        man_on = (
            bool(self.stat_bloom_cols())
            or self._meta["properties"].get("stats.on-epoch-append") == "true"
        )
        man_cols = [c for c in self.stat_cols() if c in data_cols]
        man_blooms = [c for c in self.stat_bloom_cols() if c in data_cols]
        codec = self.write_compression()

        write_partition = _make_write_partition(
            out, data_cols, stats, with_key_sketch,
            man_on, man_cols, man_blooms, codec,
        )

        rows = with_b.mapInArrow(
            write_partition,
            "kind string, bucket int, path string, nrows long, epoch int, "
            "sp int, h0 long, h1 long, h2 long, n long, ndel long, "
            "max_lsn long, max_ts long, sketch binary, stats_json string",
        ).collect()
        return _gather_direct_rows(rows, rel, stats)

    def write_data_files_direct(
        self,
        df: DataFrame,
        target_tasks: int | None = None,
        stats: bool = False,
    ):
        """Stage files via the shuffle-free Arrow writer (no commit).

        Returns ``(files, manifest_stats)`` — manifest_stats is the
        writer-inline per-file stats dict (None unless the table opted in
        via ``stats.bloom.cols`` / ``stats.on-epoch-append``).
        ``stats=True``: df carries ``_h``/``epoch``/``source_partition``
        sidecar columns; returns ``(files, stats_rows, manifest_stats)``
        (see ``_write_data_direct``)."""
        return self._write_data_direct(df, target_tasks, stats=stats)

    def write_change_files_direct(
        self,
        spark: SparkSession,
        file_epochs: list[tuple[str, int]],
        fence_lsn: int | None = None,
        target_tasks: int | None = None,
    ):
        """File-driven Arrow writer: the JVM never touches the data plane.

        ``file_epochs``: (change-log parquet path, epoch id) pairs. Each
        writer TASK opens its files with pyarrow directly, applies the
        bootstrap fence, projects onto the physical table shape, hashes in
        numpy (`functions.xxh64`, bit-equal to the DataFrame routes' JVM
        ``F.xxhash64``) each row's binlog position ``(source_partition,
        lsn)`` for the position fingerprint — two integers, not every
        payload column — and its bucket key, once (the bucket and, on
        ``conv_id`` tables, the ``_ch`` sketch column derive from that
        hash), and streams bucket files through the SAME
        `_make_write_partition` generator as the DataFrame writer.
        Spark distributes only file paths in and manifest
        rows out — the ~2.2 s/super-batch JVM→Python Arrow-socket drain of
        the mapInArrow path (the single largest bulk-replay cost at bench
        scale) disappears, along with the JVM-side decode.

        Scale shape: tasks are byte-balanced over files (greedy LPT), the
        data plane is per-task parquet→parquet with vectorized C++ decode/
        encode and numpy hashing; driver work is O(files) listing + tiny
        manifest rows, identical to the DataFrame path. On a real cluster
        the change log lives on shared storage, so a path is as readable
        from an executor as a DataFrame partition would be.

        Returns ``(files, stat_rows, manifest_stats)`` exactly like
        ``write_data_files_direct(stats=True)``.
        """
        rel = f"data/w-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.root, rel)
        os.makedirs(out, exist_ok=True)

        data_cols = [f.name for f in self.schema.fields]
        man_on = (
            bool(self.stat_bloom_cols())
            or self._meta["properties"].get("stats.on-epoch-append") == "true"
        )
        man_cols = [c for c in self.stat_cols() if c in data_cols]
        man_blooms = [c for c in self.stat_bloom_cols() if c in data_cols]
        codec = self.write_compression()
        write_partition = _make_write_partition(
            out, data_cols, True, True, man_on, man_cols, man_blooms, codec
        )

        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        phys_fields = [
            (f.name, _arrow_type(f.dataType, tz)) for f in self.schema.fields
        ]
        num_buckets = self.num_buckets
        split = list(self.split_buckets) or None
        bucket_col = self.bucket_col
        fence = None if fence_lsn is None else int(fence_lsn)

        # byte-balanced chunks (greedy LPT, largest file first): the slowest
        # task sets the job span, so balance bytes, not file counts
        p = spark.sparkContext.defaultParallelism
        n_chunks = min(target_tasks or 2 * p, len(file_epochs))
        sized = sorted(
            ((os.path.getsize(f), f, e) for f, e in file_epochs), reverse=True
        )
        import heapq

        heap = [(0, i) for i in range(n_chunks)]
        chunks: list[list[tuple[str, int]]] = [[] for _ in range(n_chunks)]
        for sz, f, e in sized:
            load, i = heapq.heappop(heap)
            chunks[i].append((f, e))
            heapq.heappush(heap, (load + sz, i))
        chunks = [c for c in chunks if c]

        def task(chunk_iter):
            import numpy as _np
            import pyarrow as _pa
            import pyarrow.compute as _pc
            import pyarrow.parquet as _pq

            from etl_documentos_spark.functions.xxh64 import (
                bucket_from_hash,
                xxh64_key,
            )

            side_fields = [
                ("_h", _pa.int64()),
                ("_ch", _pa.int64()),
                ("epoch", _pa.int32()),
                ("source_partition", _pa.int32()),
                ("_bucket", _pa.int32()),
            ]
            out_schema = _pa.schema(
                [_pa.field(n, t) for n, t in phys_fields + side_fields]
            )

            def batches():
                for chunk in chunk_iter:
                    for path, epoch in chunk:
                        pf = _pq.ParquetFile(path)
                        present = set(pf.schema_arrow.names)
                        for rb in pf.iter_batches(batch_size=1 << 16):
                            tbl = _pa.Table.from_batches([rb])
                            if fence is not None:
                                tbl = tbl.filter(
                                    _pc.greater(tbl.column("lsn"), fence)
                                )
                            n = tbl.num_rows
                            if n == 0:
                                continue
                            cols = {}  # physical name -> projected array
                            for name, typ in phys_fields:
                                if name == "_deleted":
                                    a = _pc.equal(tbl.column("op"), "delete")
                                elif name == "_lsn":
                                    a = tbl.column("lsn")
                                elif name in present:
                                    a = tbl.column(name)
                                else:
                                    a = _pa.nulls(n, typ)
                                if isinstance(a, _pa.ChunkedArray):
                                    a = a.combine_chunks()
                                if a.type != typ:
                                    a = _pc.cast(a, typ, safe=False)
                                cols[name] = a
                            sp = tbl.column("source_partition")
                            h = xxh64_key(
                                tbl.column("lsn"), seed=xxh64_key(sp)
                            )
                            kh = xxh64_key(cols[bucket_col])
                            ch = (
                                kh
                                if bucket_col == "conv_id"
                                else xxh64_key(cols["conv_id"])
                            )
                            yield _pa.record_batch(
                                [
                                    *cols.values(),
                                    _pa.array(h, _pa.int64()),
                                    _pa.array(ch, _pa.int64()),
                                    _pa.array(
                                        _np.full(n, epoch, _np.int32)
                                    ),
                                    _pc.cast(
                                        sp.combine_chunks(), _pa.int32()
                                    ),
                                    _pa.array(
                                        bucket_from_hash(
                                            kh, num_buckets, split
                                        ),
                                        _pa.int32(),
                                    ),
                                ],
                                schema=out_schema,
                            )

            for rb in write_partition(batches()):
                yield from rb.to_pylist()

        rows = (
            spark.sparkContext.parallelize(chunks, len(chunks))
            .mapPartitions(task)
            .collect()
        )
        return _gather_direct_rows(rows, rel, stats=True)

    def append_direct(
        self,
        df: DataFrame,
        target_tasks: int | None = None,
        branch: str | None = None,
    ) -> None:
        """Append via the shuffle-free Arrow writer (raw change batches).
        Retries staging if a concurrent split/rebucket changes the spec.
        Manifest stats come from the write tasks themselves when the table
        opted in (no file re-read); otherwise from the footer pass.
        ``branch`` lands the delta files on a named branch (WAP)."""
        for _ in range(5):
            spec = self.spec_fingerprint()
            files, man_stats = self._write_data_direct(df, target_tasks)
            try:
                return self.commit_append(
                    files,
                    staged_spec=spec,
                    new_stats=man_stats or self._collect_stats(files),
                    branch=branch,
                )
            except SpecConflictError:
                self._refresh()  # restage under the new transform
        raise SpecConflictError("spec kept changing across 5 retries")

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
        for _ in range(5):
            spec = self.spec_fingerprint()
            files = self.write_data_files(df, salts=salts)
            try:
                return self.commit_append(
                    files,
                    staged_spec=spec,
                    new_stats=self._collect_stats(files),
                    branch=branch,
                )
            except SpecConflictError:
                self._refresh()
        raise SpecConflictError("spec kept changing across 5 retries")

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
        self,
        df: DataFrame,
        buckets: list[int],
        salts: int | None = None,
        expected: dict[str, list[str]] | None = None,
        sort_cols: tuple[str, ...] | None = None,
        maintenance: bool = False,
    ) -> None:
        """Copy-on-write replace of the named buckets with df's rows.

        df must contain only rows belonging to ``buckets`` (caller guarantees
        it — merge_into does). Untouched buckets keep their existing files;
        this is what keeps a MERGE that hits 1% of conversations from
        rewriting 100 TB. ``expected`` (the file lists df was computed from)
        makes the commit concurrency-safe — see ``commit_overwrite``.
        Raises ``SpecConflictError`` (no internal retry) if a concurrent
        split/rebucket lands mid-flight: ``buckets``/``expected`` are spec-
        relative, so the CALLER must recompute its whole read-modify-write
        against the new spec (``merge_into``/``compact`` do).
        """
        spec = self.spec_fingerprint()
        files = self._write_data(df, salts=salts, sort_cols=sort_cols)
        self.commit_overwrite(
            files,
            buckets,
            expected=expected,
            staged_spec=spec,
            new_stats=self._collect_stats(files),
            maintenance=maintenance,
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
        for _ in range(5):
            spec = self.spec_fingerprint()
            files = self.write_data_files(df, salts=salts)
            try:
                return self.commit_append(
                    files,
                    staged_spec=spec,
                    new_stats=self._collect_stats(files),
                    stage=True,
                )
            except SpecConflictError:
                self._refresh()
        raise SpecConflictError("spec kept changing across 5 retries")

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
