"""Bit-for-bit parity of functions.xxh64 with Spark's ``F.xxhash64``.

The Arrow-direct bulk write path (streaming/apply.py) computes bucket ids
in numpy so writer tasks never ship rows through the JVM; files it writes
MUST land exactly where ``LakeTable.bucket_expr`` (JVM xxhash64) would put
them or pruned reads miss data. These tests pin that equivalence over
adversarial inputs: empty strings, multi-byte UTF-8, lengths straddling
every XXH64 block boundary (4/8/32-byte paths), int64 extremes, and the
int32 hashInt path.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from etl_documentos_spark.functions.xxh64 import (
    spark_bucket,
    xxh64_ints,
    xxh64_longs,
    xxh64_strings,
)


def _spark_hashes(spark, values, dtype):
    df = spark.createDataFrame([(v,) for v in values], schema=f"v {dtype}")
    return [r[0] for r in df.select(F.xxhash64("v").alias("h")).collect()]


STRINGS = (
    [""]
    + ["a" * n for n in range(1, 40)]  # every boundary 1..39: covers <4, 4..7, 8.., 32+
    + ["café", "你好世界", "conv-000123", "\U0001f600" * 9]
    + ["x" * 64, "y" * 65, "z" * 1000]
)


def test_strings_parity(spark):
    got = xxh64_strings(pa.array(STRINGS))
    want = _spark_hashes(spark, STRINGS, "string")
    assert got.tolist() == want


LONGS = [0, 1, -1, 42, 2**63 - 1, -(2**63), 123456789012345, -987654321]


def test_longs_parity(spark):
    got = xxh64_longs(np.array(LONGS, np.int64))
    want = _spark_hashes(spark, LONGS, "long")
    assert got.tolist() == want


INTS = [0, 1, -1, 42, 2**31 - 1, -(2**31), 65536, -65536]


def test_ints_parity(spark):
    got = xxh64_ints(np.array(INTS, np.int32))
    want = _spark_hashes(spark, INTS, "int")
    assert got.tolist() == want


def test_null_strings_keep_seed(spark):
    arr = pa.array(["a", None, "b"])
    got = xxh64_strings(arr)
    df = spark.createDataFrame([("a",), (None,), ("b",)], schema="v string")
    want = [r[0] for r in df.select(F.xxhash64("v").alias("h")).collect()]
    assert got.tolist() == want


def test_large_string_offsets():
    # large_string (int64 offsets) and sliced arrays take the same path
    base = pa.array(STRINGS, type=pa.large_string())
    assert xxh64_strings(base).tolist() == xxh64_strings(pa.array(STRINGS)).tolist()
    sl = pa.array(STRINGS).slice(3, 10)
    assert xxh64_strings(sl).tolist() == xxh64_strings(pa.array(STRINGS[3:13])).tolist()


@pytest.mark.parametrize("split", [None, [0, 3]])
def test_bucket_parity_vs_bucket_expr(spark, split, tmp_path):
    """spark_bucket == LakeTable.bucket_expr for string keys, split or not."""
    from pyspark.sql import types as T

    from etl_documentos_spark.lake.table import LakeTable

    keys = [f"conv-{i:06d}" for i in range(500)] + ["", "café", "你好"]
    t = LakeTable.create(
        str(tmp_path / "t"),
        schema=T.StructType(
            [T.StructField("conv_id", T.StringType()), T.StructField("v", T.LongType())]
        ),
        bucket_col="conv_id",
        num_buckets=8,
    )
    if split:
        t._meta["partition_spec"]["split_buckets"] = sorted(split)
    df = spark.createDataFrame([(k, 0) for k in keys], schema="conv_id string, v long")
    want = [r[0] for r in df.select(t.bucket_expr().alias("b")).collect()]
    got = spark_bucket(pa.array(keys), t.num_buckets, split_buckets=split)
    assert got.tolist() == want


@pytest.mark.parametrize("split", [None, [0, 1, 2]])
@pytest.mark.parametrize(
    "dtype,values",
    [
        ("string", ["conv-000123", "", "café", "你好世界", "\U0001f600", None]),
        ("int", [0, 1, -7, 2**31 - 1, -(2**31), None]),
        ("long", [0, 5, -1, 2**40, -(2**63), 2**63 - 1, None]),
        # not hashed on the driver: the one-row bucket_expr plan
        ("date", [datetime.date(2024, 1, 2), datetime.date(1969, 12, 31), None]),
    ],
)
def test_bucket_of_parity_vs_bucket_expr(spark, tmp_path, dtype, values, split):
    """`merge.bucket_of` (driver-side, no job) == ``bucket_expr`` over the
    value as the bucket column's type — where the writers put the row.
    (A bare ``F.lit`` of a small Python int is an IntegerType literal, so
    on a long column it would hash as an int, not as the stored long.)"""
    from pyspark.sql import types as T

    from etl_documentos_spark.lake.table import LakeTable
    from etl_documentos_spark.operators.merge import bucket_of

    t = LakeTable.create(
        str(tmp_path / "t"),
        schema=T.StructType([T.StructField("k", T._parse_datatype_string(dtype))]),
        bucket_col="k",
        num_buckets=4,
    )
    if split:
        t._meta["partition_spec"]["split_buckets"] = split
    want = list(
        spark.range(1)
        .select(*[t.bucket_expr(F.lit(v).cast(dtype)) for v in values])
        .first()
    )
    assert [bucket_of(spark, t, v) for v in values] == want
    if split:
        assert set(want) & {0, 1, 2, 4, 5, 6}, "no key in a split bucket"


def test_randomized_string_parity(spark):
    rng = np.random.default_rng(7)
    vals = [
        "".join(chr(int(c)) for c in rng.integers(32, 0x2FFF, size=int(n)))
        for n in rng.integers(0, 120, size=200)
    ]
    got = xxh64_strings(pa.array(vals))
    want = _spark_hashes(spark, vals, "string")
    assert got.tolist() == want


def test_chain_parity_change_events(spark):
    """xxh64_chain == F.xxhash64(*cols) over the full change-event shape,
    including nulls in every nullable column and multi-type chaining."""
    import datetime as dt

    rows = [
        ("insert", "conv-0001", 0, "user", "hello", None,
         dt.datetime(2024, 1, 1, 12, 0, 0, 123456), 100, 0),
        ("update", "conv-0001", 0, "assistant", "hi there", "search",
         dt.datetime(2024, 6, 30, 23, 59, 59, 999999), 101, 1),
        ("delete", "conv-0002", 5, None, None, None, None, 102, 2),
        ("insert", "", -1, "tool", "café ☕", "calc",
         dt.datetime(1969, 12, 31, 23, 59, 59), -(2**62), 2**31 - 1),
    ]
    schema = (
        "op string, conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp, lsn long, source_partition int"
    )
    df = spark.createDataFrame(rows, schema=schema)
    cols = df.columns
    want = [r[0] for r in df.select(F.xxhash64(*cols).alias("h")).collect()]
    tbl = df.toArrow()
    got = __import__(
        "etl_documentos_spark.functions.xxh64", fromlist=["xxh64_chain"]
    ).xxh64_chain(tbl, cols)
    assert got.tolist() == want


def test_chain_parity_extra_types(spark):
    rows = [
        (1.5, True, float("nan"), 3),
        (None, None, -0.0, None),
        (-2.25e300, False, 0.0, -3),
    ]
    df = spark.createDataFrame(rows, schema="d double, b boolean, d2 double, i int")
    cols = df.columns
    want = [r[0] for r in df.select(F.xxhash64(*cols).alias("h")).collect()]
    from etl_documentos_spark.functions.xxh64 import xxh64_chain

    got = xxh64_chain(df.toArrow(), cols)
    assert got.tolist() == want


def test_chain_parity_binary(spark):
    """BinaryType hashes like StringType (hashUnsafeBytes of the raw
    buffer) — the evolved-binary-payload case replay_bulk must survive."""
    import pyarrow as pa

    from etl_documentos_spark.functions.xxh64 import xxh64_chain

    payloads = [
        b"", b"\x00", b"\xff" * 7, b"abc\x00def", bytes(range(256)),
        None, b"x" * 33,
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "b binary")
    want = [r[0] for r in df.select(F.xxhash64("b")).collect()]
    tbl = pa.table({"b": pa.array(payloads, pa.binary())})
    assert xxh64_chain(tbl, ["b"]).tolist() == want


def test_chain_parity_unsigned_widening(spark):
    """Unsigned Arrow ints hash as Spark's parquet reader WIDENS them
    (uint32 -> long via hashLong; uint8/16 -> int via hashInt) — a
    wrapping astype(int32) would hash the wrong integer."""
    import pyarrow as pa

    from etl_documentos_spark.functions.xxh64 import xxh64_chain

    u32 = [0, 1, 2**31, 3_000_000_000, 2**32 - 1, None]
    df = spark.createDataFrame([(v,) for v in u32], "u long")
    want = [r[0] for r in df.select(F.xxhash64("u")).collect()]
    tbl = pa.table({"u": pa.array(u32, pa.uint32())})
    assert xxh64_chain(tbl, ["u"]).tolist() == want

    u16 = [0, 1, 40000, 65535, None]
    df = spark.createDataFrame([(v,) for v in u16], "u int")
    want = [r[0] for r in df.select(F.xxhash64("u")).collect()]
    tbl = pa.table({"u": pa.array(u16, pa.uint16())})
    assert xxh64_chain(tbl, ["u"]).tolist() == want

    import pytest as _pytest

    with _pytest.raises(TypeError):
        xxh64_chain(pa.table({"u": pa.array([1], pa.uint64())}), ["u"])


def test_var_kernel_parity_vs_spark(spark):
    """The variable-length row-vectorized kernel (free-text fast path)
    must hash byte-identically to F.xxhash64 across adversarial length
    mixes: empties, sub-32B, block-boundary straddlers, KB-scale."""
    import numpy as np

    from etl_documentos_spark.functions.xxh64 import xxh64_strings

    rng = np.random.default_rng(11)
    lens = np.concatenate([
        [0, 1, 7, 8, 9, 31, 32, 33, 63, 64, 65],
        rng.integers(0, 2000, 600),
    ])
    texts = [
        "".join(chr(c) for c in rng.integers(32, 0x2FF, int(l)))
        for l in lens
    ]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    want = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    import pyarrow as pa

    arr = pa.array(texts)
    # force the var path (many distinct lengths over few rows triggers
    # the dispatch) and ALSO check it explicitly
    got = xxh64_strings(arr)
    assert got.tolist() == want


@pytest.mark.parametrize("sp_type", ["int", "long"])
def test_position_hash_parity(spark, sp_type):
    """xxh64_key(lsn, seed=xxh64_key(sp)) == F.xxhash64(sp, lsn), the
    per-row position hash of the epoch fingerprint, NULLs included."""
    from etl_documentos_spark.functions.xxh64 import xxh64_key

    rows = [(0, 0), (7, 2**40), (-1, -(2**63)), (None, 5), (3, None), (None, None)]
    df = spark.createDataFrame(rows, schema=f"sp {sp_type}, lsn long")
    want = [r[0] for r in df.select(F.xxhash64("sp", "lsn")).collect()]
    sp = pa.array([r[0] for r in rows], pa.int32() if sp_type == "int" else pa.int64())
    lsn = pa.array([r[1] for r in rows], pa.int64())
    assert xxh64_key(lsn, seed=xxh64_key(sp)).tolist() == want
