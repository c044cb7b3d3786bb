"""Debezium-style JSON change-envelope adapter.

Real binlog/WAL tails rarely arrive as clean columnar change rows: the
dominant wire format is the Debezium envelope — one JSON document per
change with ``op`` (``c``/``u``/``d``/``r``), a ``before`` image, an
``after`` image, and a ``source`` block carrying the log position. The
reference ingests one upload per document over HTTP and logs the operation
as a JSON payload row (``/root/reference/app/models/database.py:90-108``,
``op`` + JSON detail per operation); this module is the same envelope
contract at wire speed.

``parse_envelope`` turns a DataFrame of raw envelope strings into the
engine's canonical ``CHANGE_EVENTS`` rows in ONE ``from_json`` pass plus
pure column expressions — no Python in the loop, fully codegen'd, so the
adapter adds a parse step to the scan and nothing else. Op mapping follows
Debezium semantics: ``c`` (create) and ``r`` (snapshot read) are inserts,
``u`` updates, ``d`` deletes; deletes carry only a ``before`` image, so key
and payload columns coalesce ``after`` over ``before``. Timestamps travel
as epoch microseconds (lossless and engine-portable; ISO strings round-trip
differently across formatters).

Rows whose envelope does not parse, or whose ``op`` is unknown, surface
with a NULL ``op`` — exactly the shape ``CdcPipeline``'s dead-letter queue
quarantines (the writer kernel's validity mask, ``lake/table.py``
``change_batches``), so malformed wire data diverts instead of poisoning
the merge.

``to_envelope`` is the inverse (canonical rows -> envelope strings), used
by tests, the round-trip oracle query, and as the wire format for shipping
a changelog to an external consumer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_documentos_spark.schemas import KEY_COLS, PAYLOAD_COLS

#: row-image struct inside the envelope: the transcript row with the event
#: timestamp as epoch micros (``ts_us``) instead of a formatted string
_IMAGE = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts_us", T.LongType(), True),
    ]
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), True),
        T.StructField("before", _IMAGE, True),
        T.StructField("after", _IMAGE, True),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("lsn", T.LongType(), True),
                    T.StructField("partition", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

#: Debezium op code -> canonical op. ``r`` is the snapshot-read op the
#: connector emits while bootstrapping — an insert by the time it reaches
#: the lake.
_OP_MAP = {"c": "insert", "r": "insert", "u": "update", "d": "delete"}


def _image_field(env: Column, field: str) -> Column:
    """after-image value, falling back to the before image (deletes)."""
    return F.coalesce(env["after"][field], env["before"][field])


def _canonical_columns(env: Column) -> list[Column]:
    """The CHANGE_EVENTS projection of a parsed envelope struct."""
    op = env["op"]
    canonical = F.when(
        op.isNotNull(),
        # build a CASE over the 4 known codes; unknown codes fall through
        # to NULL via the when-chain's implicit else
        F.when(op == "c", F.lit("insert"))
        .when(op == "r", F.lit("insert"))
        .when(op == "u", F.lit("update"))
        .when(op == "d", F.lit("delete")),
    )
    return [
        canonical.alias("op"),
        _image_field(env, "conv_id").alias("conv_id"),
        _image_field(env, "turn_idx").alias("turn_idx"),
        _image_field(env, "role").alias("role"),
        _image_field(env, "text").alias("text"),
        _image_field(env, "tool").alias("tool"),
        F.timestamp_micros(_image_field(env, "ts_us")).alias("ts"),
        env["source"]["lsn"].alias("lsn"),
        env["source"]["partition"].alias("source_partition"),
    ]


def parse_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Envelope strings -> canonical CHANGE_EVENTS columns.

    One ``from_json`` over ``value_col``; every derived column is a pure
    expression on the parsed struct. Unknown ops and unparseable documents
    yield NULL ``op`` (and NULL key) rows for the DLQ split — they are NOT
    dropped here, so at-least-once accounting upstream still sees them.
    """
    env = F.from_json(F.col(value_col), ENVELOPE_SCHEMA)
    return df.select(*_canonical_columns(env))


def parse_envelope_rekeyed(df: DataFrame, value_col: str = "value") -> DataFrame:
    """``parse_envelope`` + key-migration canonicalization.

    Debezium updates may carry ``before.key != after.key`` — a genuine
    PK-changing UPDATE (a turn renumbered after a moderation edit, a
    conversation re-threaded). Plain ``parse_envelope`` keeps only the
    after-image key, silently dropping the retract the OLD key needs, so
    the stale row would survive replay (the reference's blind
    overwrite-by-PK has the same hole, ``app/database/repositories.py:
    51-68``). This variant surfaces the before-image key as ``prev_*``
    columns on exactly those rows and expands them through
    ``operators/rekey.py`` into delete@old-key + insert@new-key sharing
    the source (ts, lsn). Same single ``from_json`` pass; the expansion
    adds one codegen'd explode — still no Python, no shuffle.
    """
    from etl_documentos_spark.operators.rekey import split_key_migrations

    env = F.from_json(F.col(value_col), ENVELOPE_SCHEMA)
    before, after = env["before"], env["after"]
    key_changed = (
        (env["op"] == "u")
        & before.isNotNull()
        & after.isNotNull()
        & ~(
            before["conv_id"].eqNullSafe(after["conv_id"])
            & before["turn_idx"].eqNullSafe(after["turn_idx"])
        )
    )
    parsed = df.select(
        *_canonical_columns(env),
        F.when(key_changed, before["conv_id"]).alias("prev_conv_id"),
        F.when(key_changed, before["turn_idx"]).alias("prev_turn_idx"),
    )
    return split_key_migrations(parsed)


def to_envelope(changes: DataFrame, value_col: str = "value") -> DataFrame:
    """Canonical CHANGE_EVENTS rows -> one envelope JSON string per row.

    Deletes emit a ``before`` image only; inserts/updates an ``after``
    image only (the engine's change rows carry a single image — emitting it
    under the op-appropriate key is what makes ``parse_envelope`` a true
    inverse). Timestamps serialize as epoch micros.
    """
    image = F.struct(
        *[F.col(c).alias(c) for c in KEY_COLS],
        *[
            F.col(c).alias(c)
            for c in PAYLOAD_COLS
            if c != "ts"
        ],
        # NTZ-tolerant: the session timezone is UTC (session.py), so the
        # cast reinterprets a TIMESTAMP_NTZ column losslessly
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    is_del = F.col("op") == "delete"
    doc = F.struct(
        F.when(is_del, F.lit("d"))
        .when(F.col("op") == "update", F.lit("u"))
        .otherwise(F.lit("c"))
        .alias("op"),
        F.when(is_del, image).alias("before"),
        F.when(~is_del, image).alias("after"),
        F.struct(
            F.col("lsn").alias("lsn"),
            F.col("source_partition").alias("partition"),
        ).alias("source"),
    )
    return changes.select(
        F.to_json(doc, {"ignoreNullFields": "true"}).alias(value_col)
    )


def export_changes(
    spark,
    table,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    value_col: str = "value",
) -> DataFrame:
    """CDC back OUT: the lake's incremental changelog as envelope strings.

    Composes ``lake/changelog.read_changes`` (metadata-planned manifest
    set-diff — reads only the delta files, never the table) with
    ``to_envelope``: every row a snapshot range added becomes one Debezium
    document on the wire, ready for a Kafka-shaped sink or a downstream
    lake. Changelog rows do not distinguish insert from update (the lake
    upserts), so live rows export as ``u`` — the standard
    upsert-as-update contract consumers already apply idempotently;
    tombstones export as ``d`` with a ``before`` image. ``lsn`` and ``ts``
    ride through unchanged, so LWW ordering survives the wire: applying
    an exported range onto a replica that holds the range's base state
    converges to the source table (pytest pins this round-trip).

    The ``source.partition`` field is absent on export (the lake does not
    persist the original shard id; ``ignoreNullFields`` drops it) — a
    re-ingesting pipeline treats the feed as one logical partition, which
    is exactly the ordering guarantee a per-table changelog provides.
    """
    from etl_documentos_spark.lake.changelog import read_changes

    ch = read_changes(spark, table, from_snapshot_id, to_snapshot_id)
    canon = ch.select(
        F.when(F.col("_change_op") == "delete", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        *[F.col(c) for c in KEY_COLS],
        *[F.col(c) for c in PAYLOAD_COLS],
        F.col("_lsn").alias("lsn"),
        F.lit(None).cast("int").alias("source_partition"),
    )
    return to_envelope(canon, value_col=value_col)
