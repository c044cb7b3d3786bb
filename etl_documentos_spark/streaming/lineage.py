"""Lineage + throughput/lag metrics emission (FIXTURES.md §5 shapes).

Append-only parquet tables, one write per epoch. Reference analogues: the
date-partitioned JSONL processing log
(``/root/reference/app/core/document_tracking.py:255-274``) and the
incrementally-updated per-endpoint metrics
(``/root/reference/app/services/analytics_service.py:269-292``).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession

from etl_documentos_spark.schemas import LINEAGE, METRICS


def _append_parquet_local(path: str, table, name: str) -> None:
    """Driver-local parquet append via pyarrow: the rows were already
    collected (they are per-partition counters, not data), so spinning a
    Spark job for them would cost more than the write.

    ``name`` must be deterministic per logical record (per epoch): a crash
    between this write and the commit-log mark re-applies the epoch on
    restart, and the re-write then REPLACES the first file instead of
    appending a duplicate — audit counters stay exactly-once under
    at-least-once replay. Written via dot-prefixed temp + ``os.replace``
    so readers never see a torn file (Spark ignores dot-files)."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def _arrow_schema(spark_schema):
    import pyarrow as pa

    mapping = {
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "double": pa.float64(),
        "string": pa.string(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    return pa.schema(
        [(f.name, mapping[f.dataType.simpleString()]) for f in spark_schema.fields]
    )


def append_lineage_rows(
    spark: SparkSession,
    path: str,
    epoch_id: int,
    rows: list[tuple[int, int, int, int, int]],
) -> None:
    """Append pre-collected lineage counters (source_partition, events_read,
    rows_upserted, rows_deleted, conv_ids_touched) — the stats pass already
    reduced them to #source-partitions rows, so this is a tiny local write,
    not a data-scale job."""
    import pyarrow as pa

    data = [(epoch_id, *r) for r in rows]
    cols = list(zip(*data)) if data else [[], [], [], [], [], []]
    table = pa.table(
        {f.name: list(c) for f, c in zip(LINEAGE.fields, cols)},
        schema=_arrow_schema(LINEAGE),
    )
    _append_parquet_local(path, table, f"lineage-epoch-{epoch_id}.parquet")


def append_metrics(
    spark: SparkSession,
    path: str,
    epoch_id: int,
    events: int,
    duration_s: float,
    lag_events: int,
) -> None:
    import pyarrow as pa

    row = {
        "epoch_id": [epoch_id],
        "events_per_sec": [(events / duration_s) if duration_s > 0 else 0.0],
        "lag_events": [lag_events],
        "duration_s": [duration_s],
        "ts": [datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)],
    }
    _append_parquet_local(
        path,
        pa.table(row, schema=_arrow_schema(METRICS)),
        f"metrics-epoch-{epoch_id}.parquet",
    )


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(LINEAGE).parquet(path)


def read_metrics(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(METRICS).parquet(path)
