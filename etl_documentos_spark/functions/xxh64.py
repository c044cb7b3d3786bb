"""Vectorized xxHash64 matching Spark's ``F.xxhash64`` bit-for-bit.

Why this exists: the bulk backfill's fast path moves the data plane out of
the JVM entirely — writer tasks read the change-log parquet with pyarrow
and write bucket files directly, never shipping rows through the
JVM→Python Arrow socket (measured ~2.2 s of a 2.7 s super-batch at sf-bench
scale, the single largest cost in the replay). Those tasks still need two
Spark hashes, re-derived here from the public xxHash64 specification
(https://github.com/Cyan4973/xxHash — the same spec Spark's
``org.apache.spark.sql.catalyst.expressions.XXH64`` implements), seed 42,
vectorized over numpy uint64 lanes: the bucket transform
``pmod(xxhash64(key), num_buckets)`` (`lake.table.LakeTable.bucket_expr`:
files must land where pruned reads look; `xxh64_key` hashes the key once,
`bucket_from_hash` derives the bucket), and the position fingerprint
``xxhash64(source_partition, lsn)`` (`streaming.commitlog`): a binlog event
is identified by its position, so two integers per row are hashed instead
of every payload byte (`xxh64_chain`, ~40x the cost on transcript text).
Parity with Spark is pinned by ``tests/test_xxh64_parity.py`` over
adversarial inputs (empty strings, multi-byte UTF-8, lengths straddling
every block boundary, ±2^63 longs).

Spark type mapping (XxHash64Expression): LongType hashes the 8-byte value
(``hashLong``), Byte/Short/IntegerType hash as a 4-byte value
(``hashInt``), StringType hashes the UTF-8 bytes (``hashUnsafeBytes``).
Multi-column hashes chain: each column's hash seeds the next.

All arithmetic is modulo 2^64 (numpy uint64 wraps like the reference C).
Strings are length-grouped: every distinct byte-length forms one fully
vectorized batch (real key corpora have a handful of lengths), so the cost
is O(total bytes) with numpy-kernel constants, not per-row Python.
"""

from __future__ import annotations

import functools

import numpy as np


def _wrapping(fn):
    """uint64 arithmetic here wraps modulo 2^64 BY DESIGN (the xxHash spec);
    suppress numpy's overflow warnings inside, restore outside."""

    @functools.wraps(fn)
    def inner(*a, **kw):
        with np.errstate(over="ignore"):
            return fn(*a, **kw)

    return inner

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

SPARK_SEED = np.uint64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _round(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    acc = acc + inp * _P2
    return _rotl(acc, 31) * _P1


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def _seed_arr(seed, n: int) -> np.ndarray:
    """Seed as a (n,) uint64 lane array. Accepts a scalar (the common
    single-column case) or a per-row array (the CHAINED multi-column case:
    Spark's ``xxhash64(c1, c2, ...)`` feeds each column's hash in as the
    next column's seed, so rows diverge after the first column)."""
    sd = np.asarray(seed)
    if sd.ndim == 0:
        return np.full(n, np.uint64(int(sd)), np.uint64)
    return np.ascontiguousarray(sd, np.uint64).view(np.uint64).reshape(n)


@_wrapping
def xxh64_longs(vals: np.ndarray, seed=42) -> np.ndarray:
    """Spark ``xxhash64`` of a LongType column (XXH64.hashLong). int64."""
    v = np.asarray(vals).astype(np.int64).view(np.uint64)
    acc = _seed_arr(seed, v.shape[0]) + (_P5 + np.uint64(8))
    # one 8-byte block: same k1-round as the streaming path
    acc = acc ^ _round(np.zeros_like(v), v)
    acc = _rotl(acc, 27) * _P1 + _P4
    return _fmix(acc).view(np.int64)


@_wrapping
def xxh64_ints(vals: np.ndarray, seed=42) -> np.ndarray:
    """Spark ``xxhash64`` of a Byte/Short/IntegerType column
    (XXH64.hashInt: the value as 4 little-endian bytes, zero-extended).
    Returns int64."""
    v = (
        np.asarray(vals)
        .astype(np.int32)
        .view(np.uint32)
        .astype(np.uint64)
    )
    acc = _seed_arr(seed, v.shape[0]) + (_P5 + np.uint64(4))
    acc = acc ^ (v * _P1)
    acc = _rotl(acc, 23) * _P2 + _P3
    return _fmix(acc).view(np.int64)


def _utf8_matrix(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, bytes) views of a pyarrow StringArray's UTF-8 buffers."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(
        arr.type
    ):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, np.uint8)
    )
    return off.astype(np.int64), data


def _le_words(mat: np.ndarray, start: int, nbytes: int) -> np.ndarray:
    """Little-endian unsigned ints from byte columns [start, start+nbytes)
    of a (n, L) uint8 matrix — the unaligned getLong/getInt reads."""
    sub = mat[:, start : start + nbytes].astype(np.uint64)
    out = np.zeros(mat.shape[0], np.uint64)
    for i in range(nbytes):
        out |= sub[:, i] << np.uint64(8 * i)
    return out


@_wrapping
def _xxh64_bytes_fixed(mat: np.ndarray, seed) -> np.ndarray:
    """XXH64 over n byte-rows of identical length L (``mat``: (n, L) uint8).
    ``seed``: scalar or per-row (n,) uint64 lanes."""
    n, length = mat.shape
    sd = _seed_arr(seed, n)
    i = 0
    if length >= 32:
        v1 = sd + (_P1 + _P2)
        v2 = sd + _P2
        v3 = sd.copy()
        v4 = sd - _P1
        while i + 32 <= length:
            v1 = _round(v1, _le_words(mat, i, 8))
            v2 = _round(v2, _le_words(mat, i + 8, 8))
            v3 = _round(v3, _le_words(mat, i + 16, 8))
            v4 = _round(v4, _le_words(mat, i + 24, 8))
            i += 32
        acc = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        )
        for v in (v1, v2, v3, v4):
            acc = (acc ^ _round(np.zeros(n, np.uint64), v)) * _P1 + _P4
    else:
        acc = sd + _P5
    acc = acc + np.uint64(length)
    while i + 8 <= length:
        acc = acc ^ _round(np.zeros(n, np.uint64), _le_words(mat, i, 8))
        acc = _rotl(acc, 27) * _P1 + _P4
        i += 8
    if i + 4 <= length:
        acc = acc ^ (_le_words(mat, i, 4) * _P1)
        acc = _rotl(acc, 23) * _P2 + _P3
        i += 4
    while i < length:
        acc = acc ^ (mat[:, i].astype(np.uint64) * _P5)
        acc = _rotl(acc, 11) * _P1
        i += 1
    return _fmix(acc)


def _gather_words(
    data: np.ndarray, starts: np.ndarray, nbytes: int
) -> np.ndarray:
    """Little-endian unsigned ints of ``nbytes`` bytes read at per-row
    ``starts`` offsets into the flat ``data`` buffer — the unaligned
    getLong/getInt reads, batched across rows with one fancy-index
    gather."""
    mat = data[starts[:, None] + np.arange(nbytes)[None, :]].astype(
        np.uint64
    )
    out = np.zeros(len(starts), np.uint64)
    for i in range(nbytes):
        out |= mat[:, i] << np.uint64(8 * i)
    return out


@_wrapping
def _xxh64_bytes_var(
    lens: np.ndarray, starts: np.ndarray, data: np.ndarray, sd: np.ndarray
) -> np.ndarray:
    """XXH64 over n byte-rows of VARYING lengths, vectorized across rows.

    The per-length grouping in `xxh64_strings` is optimal when a column
    holds a handful of distinct lengths (keys, enums) but degenerates to
    per-row tiny-array dispatch on free text, where byte lengths are
    near-unique — exactly the `text` column of a transcript corpus. This
    kernel instead sorts rows by length DESCENDING so the rows still
    inside the 32-byte stripe loop at step j form a PREFIX: each step is
    one whole-prefix gather + the four lane rounds, and the total
    gathered volume is exactly the payload. The ≤31-byte tails group by
    word/byte counts (at most 3+1+3 masked steps). Per-row operation
    sequence is byte-identical to `_xxh64_bytes_fixed` (spec order), so
    the two paths hash equal — pinned in tests/test_xxh64_parity.py.
    """
    n = len(lens)
    order = np.argsort(-lens, kind="stable")
    L = lens[order].astype(np.int64)
    st = starts[order].astype(np.int64)
    s = sd[order]
    nblk = np.where(L >= 32, L // 32, 0)
    nb = int(np.count_nonzero(L >= 32))
    acc = np.empty(n, np.uint64)
    if nb:
        v1 = s[:nb] + (_P1 + _P2)
        v2 = s[:nb] + _P2
        v3 = s[:nb].copy()
        v4 = s[:nb] - _P1
        maxblk = int(nblk[0])
        # rows with nblk > j form a prefix of the descending sort
        active = np.searchsorted(-nblk, -np.arange(1, maxblk + 1), "right")
        for j in range(maxblk):
            m = int(active[j])
            if m == 0:
                break
            base = st[:m] + j * 32
            v1[:m] = _round(v1[:m], _gather_words(data, base, 8))
            v2[:m] = _round(v2[:m], _gather_words(data, base + 8, 8))
            v3[:m] = _round(v3[:m], _gather_words(data, base + 16, 8))
            v4[:m] = _round(v4[:m], _gather_words(data, base + 24, 8))
        a = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            a = (a ^ _round(np.zeros(nb, np.uint64), v)) * _P1 + _P4
        acc[:nb] = a
    acc[nb:] = s[nb:] + _P5
    acc = acc + L.astype(np.uint64)
    pos = st + nblk * 32
    rem = L - nblk * 32  # 0..31
    wc = rem // 8  # full 8-byte words in the tail (0..3)
    for k in range(3):
        sel = np.nonzero(wc > k)[0]
        if not len(sel):
            break
        w = _gather_words(data, pos[sel] + 8 * k, 8)
        a = acc[sel]
        a = a ^ _round(np.zeros(len(sel), np.uint64), w)
        acc[sel] = _rotl(a, 27) * _P1 + _P4
    pos = pos + wc * 8
    rem = rem - wc * 8  # 0..7
    sel = np.nonzero(rem >= 4)[0]
    if len(sel):
        w = _gather_words(data, pos[sel], 4)
        a = acc[sel] ^ (w * _P1)
        acc[sel] = _rotl(a, 23) * _P2 + _P3
        pos[sel] += 4
        rem[sel] -= 4
    for t in range(3):
        sel = np.nonzero(rem > t)[0]
        if not len(sel):
            break
        b = data[pos[sel] + t].astype(np.uint64)
        a = acc[sel] ^ (b * _P5)
        acc[sel] = _rotl(a, 11) * _P1
    out = np.empty(n, np.uint64)
    out[order] = _fmix(acc)
    return out


@_wrapping
def xxh64_strings(arr, seed=42) -> np.ndarray:
    """Spark ``xxhash64`` of a string column (pyarrow String/LargeString
    array). Hashes each row's UTF-8 bytes; nulls keep the seed (Spark
    skips null columns, leaving the running hash unchanged). ``seed``:
    scalar or per-row array (the multi-column chain). int64 out."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off, data = _utf8_matrix(arr)
    lens = off[1:] - off[:-1]
    n = len(lens)
    out = np.empty(n, np.uint64)
    sd = _seed_arr(seed, n)
    uniq = np.unique(lens)
    if n and len(uniq) > 16 and n < len(uniq) * 256:
        # many small length groups (free text: byte lengths are nearly
        # distinct): the per-length grouping below degenerates to
        # tiny-array numpy dispatch — route through the row-vectorized
        # variable-length kernel instead (~4x wall on a ~1KB-text
        # column; grouping stays optimal for key/enum columns, whose
        # few big groups amortize the per-group overhead)
        out = _xxh64_bytes_var(
            np.asarray(lens, np.int64),
            np.asarray(off[:-1], np.int64),
            data,
            sd,
        )
        res = out.view(np.int64).copy()
        if arr.null_count:
            nulls = np.asarray(arr.is_null())
            res[nulls] = sd.view(np.int64)[nulls]
        return res
    for length in uniq:
        idx = np.nonzero(lens == length)[0]
        if length == 0:
            out[idx] = _xxh64_bytes_fixed(
                np.zeros((len(idx), 0), np.uint8), sd[idx]
            )
            continue
        starts = off[:-1][idx]
        mat = data[starts[:, None] + np.arange(length)[None, :]]
        out[idx] = _xxh64_bytes_fixed(mat, sd[idx])
    res = out.view(np.int64).copy()
    if arr.null_count:
        nulls = np.asarray(arr.is_null())
        res[nulls] = sd.view(np.int64)[nulls]
    return res


@_wrapping
def xxh64_key(arr, seed=42) -> np.ndarray:
    """Spark ``xxhash64`` of one key column (pyarrow array), dispatched on
    its type like XxHash64Expression: string → UTF-8 bytes, long → hashLong,
    byte/short/int → hashInt, unsigned → the signed type Spark's parquet
    reader widens it to. A NULL row keeps the seed (Spark skips nulls).
    ``seed``: scalar or per-row array, so ``xxh64_key(b, seed=xxh64_key(a))``
    equals ``F.xxhash64(a, b)``. int64 out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return xxh64_strings(arr, seed=seed)
    if not pa.types.is_integer(t):
        raise TypeError(f"unsupported key type {t}")
    if t.bit_width == 64 and pa.types.is_unsigned_integer(t):
        raise TypeError("uint64 keys unsupported (Decimal in Spark)")
    v = pc.fill_null(arr, 0).to_numpy(zero_copy_only=False)
    # widen as Spark's parquet reader does (uint32→long, uint8/16→int); a
    # wrapping astype would bucket rows where pruned reads never look
    if t.bit_width == 64 or (
        t.bit_width == 32 and pa.types.is_unsigned_integer(t)
    ):
        h = xxh64_longs(v.astype(np.int64), seed=seed)
    else:
        h = xxh64_ints(v.astype(np.int32), seed=seed)
    if arr.null_count:
        nulls = np.asarray(arr.is_null())
        h[nulls] = _seed_arr(seed, len(h)).view(np.int64)[nulls]
    return h


def bucket_from_hash(
    h: np.ndarray, num_buckets: int, split_buckets: list[int] | None = None
) -> np.ndarray:
    """``LakeTable.bucket_expr`` over key hashes from `xxh64_key`: bucket =
    pmod(h, N), with split base buckets hashing at 2N granularity."""
    b0 = np.mod(h, np.int64(num_buckets))  # numpy mod == Spark pmod sign
    if split_buckets:
        hot = np.isin(b0, np.asarray(sorted(split_buckets), np.int64))
        b0 = np.where(hot, np.mod(h, np.int64(2 * num_buckets)), b0)
    return b0.astype(np.int32)


def spark_bucket(
    arr, num_buckets: int, split_buckets: list[int] | None = None
) -> np.ndarray:
    """``LakeTable.bucket_expr`` replicated over a pyarrow key column."""
    return bucket_from_hash(xxh64_key(arr), num_buckets, split_buckets)


@_wrapping
def xxh64_chain(tbl, cols: list[str], seed: int = 42) -> np.ndarray:
    """Spark ``F.xxhash64(c1, c2, ...)`` over a pyarrow Table — the CHAINED
    multi-column form (HashExpression: each column's hash seeds the next;
    a NULL value leaves the running hash untouched).

    Off the write path: epoch fingerprints hash the binlog position
    (`xxh64_key` over ``source_partition`` then ``lsn``), not the payload.
    Kept only for ``perfbench/layers.py``, which times it; parity pinned
    in tests/test_xxh64_parity.py.

    Type dispatch mirrors XxHash64Expression: string → hashUnsafeBytes of
    UTF-8; long/timestamp → hashLong (a timestamp's hash input is its
    internal UTC-microseconds long); byte/short/int/bool/date → hashInt;
    float/double → hashLong/hashInt of the IEEE bits with NaN normalized
    to the canonical quiet NaN (Java's doubleToLongBits) and -0.0 → +0.0
    (Spark normalizes the zero before hashing).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    h = np.full(n, np.uint64(int(seed)), np.uint64)
    for name in cols:
        arr = tbl.column(name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        t = arr.type
        nulls = (
            np.asarray(arr.is_null()) if arr.null_count else None
        )
        if (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_binary(t)
            or pa.types.is_large_binary(t)
        ):
            # BinaryType hashes like StringType: hashUnsafeBytes over the
            # raw buffer (XxHash64Expression treats both as byte arrays);
            # binary arrays share the string offsets+data buffer layout
            nh = xxh64_strings(arr, seed=h).view(np.uint64)
            h = nh  # null carry handled inside xxh64_strings
            continue
        if pa.types.is_timestamp(t):
            vals = pc.cast(
                pc.cast(arr, pa.timestamp("us"), safe=False), pa.int64()
            )
            vals = pc.fill_null(vals, 0).to_numpy().astype(np.int64)
            nh = xxh64_longs(vals, seed=h).view(np.uint64)
        elif pa.types.is_int64(t):
            vals = pc.fill_null(arr, 0).to_numpy().astype(np.int64)
            nh = xxh64_longs(vals, seed=h).view(np.uint64)
        elif pa.types.is_float64(t):
            v = pc.fill_null(arr, 0.0).to_numpy().astype(np.float64)
            v = np.where(v == 0.0, 0.0, v)  # -0.0 → +0.0
            bits = v.view(np.int64)
            bits = np.where(
                np.isnan(v), np.int64(0x7FF8000000000000), bits
            )
            nh = xxh64_longs(bits, seed=h).view(np.uint64)
        elif pa.types.is_float32(t):
            v = pc.fill_null(arr, 0.0).to_numpy().astype(np.float32)
            v = np.where(v == np.float32(0.0), np.float32(0.0), v)
            bits = v.view(np.int32)
            bits = np.where(np.isnan(v), np.int32(0x7FC00000), bits)
            nh = xxh64_ints(bits, seed=h).view(np.uint64)
        elif pa.types.is_boolean(t):
            vals = (
                pc.cast(pc.fill_null(arr, False), pa.int32())
                .to_numpy()
                .astype(np.int32)
            )
            nh = xxh64_ints(vals, seed=h).view(np.uint64)
        elif pa.types.is_date32(t):
            vals = pc.cast(arr, pa.int32())
            vals = pc.fill_null(vals, 0).to_numpy().astype(np.int32)
            nh = xxh64_ints(vals, seed=h).view(np.uint64)
        elif pa.types.is_unsigned_integer(t):
            # Spark's parquet reader WIDENS unsigned logical types
            # (uint8→short, uint16→int, uint32→long, uint64→decimal);
            # astype(int32) of a uint32 would WRAP the value and hash the
            # wrong integer. Widen exactly as Spark reads them.
            if t.bit_width == 64:
                raise TypeError(
                    f"uint64 column {name!r}: Spark reads parquet UINT64 "
                    "as Decimal(20,0), which this hash path does not "
                    "support — cast upstream"
                )
            vals = pc.fill_null(arr, 0).to_numpy(zero_copy_only=False)
            if t.bit_width == 32:  # → LongType: hashLong
                nh = xxh64_longs(
                    vals.astype(np.int64), seed=h
                ).view(np.uint64)
            else:  # uint8/uint16 → Short/IntegerType: hashInt, exact
                nh = xxh64_ints(
                    vals.astype(np.int32), seed=h
                ).view(np.uint64)
        elif pa.types.is_integer(t):  # byte/short/int: Spark hashInt
            vals = pc.fill_null(arr, 0).to_numpy().astype(np.int32)
            nh = xxh64_ints(vals, seed=h).view(np.uint64)
        else:
            raise TypeError(f"unsupported hash column type {t} ({name})")
        h = np.where(nulls, h, nh) if nulls is not None else nh
    return h.view(np.int64)
