"""write.compression table property honored by both write paths."""

from __future__ import annotations

import datetime
import os

import pyarrow.parquet as pq
import pytest

from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import (
    compact,
    merge_into,
    merge_mor,
    physical_schema,
    read_current,
)
from etl_documentos_spark.schemas import TRANSCRIPTS

SCHEMA = (
    "op string, conv_id string, turn_idx int, role string, text string,"
    " tool string, ts timestamp, lsn long, source_partition int"
)


def _batch(spark, n=40):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("insert", f"conv_{i % 5}", i % 4, "user", f"v{i}" * 50, None,
         t0 + datetime.timedelta(seconds=i), i, 0)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _codecs(table):
    out = set()
    for fs in table.current_snapshot.files.values():
        for p in fs:
            md = pq.read_metadata(os.path.join(table.root, p))
            out.add(md.row_group(0).column(0).compression)
    return out


@pytest.mark.parametrize("codec,expect", [("zstd", "ZSTD"), (None, "SNAPPY")])
def test_both_writers_honor_compression(spark, tmp_path, codec, expect):
    props = {"write.compression": codec} if codec else {}
    table = LakeTable.create(
        str(tmp_path / f"t_{codec}"),
        physical_schema(TRANSCRIPTS),
        num_buckets=2,
        properties=props,
    )
    merge_mor(spark, table, _batch(spark))   # change-batch kernel
    merge_into(spark, table, _batch(spark))  # kernel + LWW rewrite
    compact(spark, table)                    # sorted rewrite
    table._refresh()
    assert _codecs(table) == {expect}
    assert read_current(spark, table).count() == 20  # 5 convs x 4 turns
