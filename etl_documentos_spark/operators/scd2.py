"""SCD Type-2 history materialization and change-stream gap auditing.

The LWW replay (`operators/lww.py`) keeps each key's FINAL state; this
module keeps the whole lineage: every change event becomes a version
row with ``[valid_from, valid_to)`` bounds — the slowly-changing-
dimension Type-2 form a warehouse keeps beside the current table so
"what did this turn say when the user complained?" is answerable.
Deletes close the predecessor's interval without opening a new one.

Both operators are ONE window over the replay's own key exchange
(partition by key, order by the same total (ts, lsn) order LWW uses),
so they compose with the CDC pipeline without a new shuffle shape, and
per-key state is the bounded per-conversation event count — the salted
write path already defuses hot conversations upstream.

Reference parity: the reference keeps an append-only processing/audit
trail per document and reconstructs history by re-reading and sorting
the whole log (/root/reference/app/core/document_tracking.py:354-377,
``get_document_history``); the SCD2 form adds the interval bounds that
make point-in-time reads a filter, not a replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY_COLS = ("conv_id", "turn_idx")


def scd2_history(
    changes: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    attr_cols: tuple[str, ...] = ("role", "text", "tool"),
    ts_col: str = "ts",
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Every change event -> one version row with validity bounds.

    Events order per key by the SAME total (ts, lsn) order the LWW
    replay uses, so the version chain and the final state can never
    disagree: the last open interval's attributes ARE ``lww_dedup``'s
    winner. A version's ``valid_to`` is the next event's ``ts``
    (half-open ``[valid_from, valid_to)``); the newest event has NULL
    ``valid_to``. Delete events CLOSE their predecessor's interval but
    emit no version row, so ``is_current`` is true iff the key's last
    event is a non-delete — a tombstoned turn has a fully-closed chain.

    Events sharing key + (ts, lsn) collapse to ONE before the chain:
    without this an at-least-once re-delivery would mint a phantom
    zero-width version and inflate ``version_n``. When their payloads
    conflict, the row first in ``(op, *attr_cols)`` descending order,
    NULLs last, is kept — the same pick `scd2_oracle_sql` makes, whatever
    the input order.

    Output: key_cols + attr_cols + ``valid_from``, ``valid_to``,
    ``version_n`` (1-based per key, counting non-delete versions),
    ``is_current``.
    """
    tie = [F.col(c).desc_nulls_last() for c in (op_col, *attr_cols)]
    w = Window.partitionBy(*key_cols).orderBy(ts_col, lsn_col, *tie)
    # first row of its (ts, lsn) run in the window's order
    first = F.lag(F.lit(True)).over(w).isNull() | ~(
        F.lag(ts_col).over(w).eqNullSafe(F.col(ts_col))
        & F.lag(lsn_col).over(w).eqNullSafe(F.col(lsn_col))
    )
    deduped = changes.withColumn("_first", first).filter("_first")
    chained = deduped.select(
        *key_cols,
        *attr_cols,
        F.col(op_col).alias("_op"),
        F.col(ts_col).alias("valid_from"),
        F.col(lsn_col).alias("_lsn"),
        F.lead(ts_col).over(w).alias("valid_to"),
    )
    versions = chained.filter(F.col("_op") != "delete")
    wv = Window.partitionBy(*key_cols).orderBy("valid_from", "_lsn")
    return (
        versions.withColumn("version_n", F.row_number().over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("_op", "_lsn")
    )


def scd2_oracle_sql(
    source_sql: str,
    key_cols: tuple[str, ...] = KEY_COLS,
    attr_cols: tuple[str, ...] = ("role", "text", "tool"),
) -> str:
    """DuckDB twin of :func:`scd2_history` for the correctness gate."""
    kcols = ", ".join(key_cols)
    acols = ", ".join(attr_cols)
    tie = ", ".join(f"{c} DESC NULLS LAST" for c in ("op", *attr_cols))
    return f"""
        WITH src AS ({source_sql}),
        dedup AS (
          SELECT * FROM src
          QUALIFY row_number() OVER (
            PARTITION BY {kcols}, ts, lsn ORDER BY {tie}) = 1),
        chained AS (
          SELECT {kcols}, {acols}, op AS _op, ts AS valid_from,
                 lsn AS _lsn,
                 lead(ts) OVER (PARTITION BY {kcols} ORDER BY ts, lsn)
                   AS valid_to
          FROM dedup),
        versions AS (SELECT * FROM chained WHERE _op <> 'delete')
        SELECT {kcols}, {acols}, valid_from, valid_to,
               CAST(row_number() OVER (
                 PARTITION BY {kcols} ORDER BY valid_from, _lsn
               ) AS INT) AS version_n,
               valid_to IS NULL AS is_current
        FROM versions
    """


def lsn_gaps(
    changes: DataFrame,
    partition_col: str = "source_partition",
    lsn_col: str = "lsn",
) -> DataFrame:
    """Binlog continuity audit: ranges of missing LSNs per source
    partition.

    A WAL tail that skips offsets means lost change events — silent
    divergence the final-state equality check can't see (a missing
    delete leaves a ghost row that LOOKS consistent). One ``lag()``
    window per source partition emits each hole as
    ``[gap_start, gap_end]`` with its size, so the lineage dashboard
    can alert before the drift compounds. Contiguous streams return
    zero rows.

    Assumes per-partition LSNs are meant to be dense (the synthetic
    source's contract); for sparse-LSN sources feed the expected
    stride upstream.
    """
    w = Window.partitionBy(partition_col).orderBy(lsn_col)
    with_prev = changes.select(
        F.col(partition_col),
        F.col(lsn_col).alias("_lsn"),
        F.lag(lsn_col).over(w).alias("_prev"),
    )
    return with_prev.filter(
        F.col("_prev").isNotNull() & (F.col("_lsn") > F.col("_prev") + 1)
    ).select(
        F.col(partition_col),
        (F.col("_prev") + 1).alias("gap_start"),
        (F.col("_lsn") - 1).alias("gap_end"),
        (F.col("_lsn") - F.col("_prev") - 1).alias("n_missing"),
    )
