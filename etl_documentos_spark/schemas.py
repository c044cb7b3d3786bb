"""Canonical StructType schemas for the CDC engine.

The base-table shape is authoritative from BASELINE.json ``input_hint``:
``conversations(conv_id:string, turn_idx:int, role:string, text:string,
tool:string, ts:timestamp)``.

The change-event shape mirrors the reference's append-only operation log
(``/root/reference/app/models/database.py:90-108`` — op, status, JSON payload,
timestamp per document operation) plus a binlog-style LSN, and its
insert-then-update row lifecycle
(``/root/reference/app/services/document_processor.py:126-143, 205-218``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# base table: multi-turn conversation/agent transcripts
# ---------------------------------------------------------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

#: columns that form the primary key of the transcripts table
KEY_COLS = ["conv_id", "turn_idx"]

#: payload columns carried by change events (everything except the key)
PAYLOAD_COLS = ["role", "text", "tool", "ts"]

# ---------------------------------------------------------------------------
# change stream (binlog/WAL tail)
# ---------------------------------------------------------------------------
CHANGE_EVENTS = T.StructType(
    [
        T.StructField("op", T.StringType(), False),  # insert | update | delete
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),  # event time; LWW key 1
        T.StructField("lsn", T.LongType(), False),  # log seq no; LWW tiebreak
        T.StructField("source_partition", T.IntegerType(), False),
    ]
)

#: schema-evolution tranche: same events + additive nullable tool metadata
EVOLVED_COLS = T.StructType(
    [
        T.StructField("tool_call_id", T.StringType(), True),
        T.StructField("tool_latency_ms", T.DoubleType(), True),
    ]
)

CHANGE_EVENTS_V2 = T.StructType(list(CHANGE_EVENTS.fields) + list(EVOLVED_COLS.fields))

TRANSCRIPTS_V2 = T.StructType(list(TRANSCRIPTS.fields) + list(EVOLVED_COLS.fields))

# ---------------------------------------------------------------------------
# engine-internal tables
# ---------------------------------------------------------------------------
LINEAGE = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("source_partition", T.IntegerType(), False),
        T.StructField("events_read", T.LongType(), False),
        T.StructField("rows_upserted", T.LongType(), False),
        T.StructField("rows_deleted", T.LongType(), False),
        T.StructField("conv_ids_touched", T.LongType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("events_per_sec", T.DoubleType(), False),
        T.StructField("lag_events", T.LongType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def ddl(schema: T.StructType) -> str:
    """Render a StructType as a DDL string (for readStream / applyInPandas)."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
