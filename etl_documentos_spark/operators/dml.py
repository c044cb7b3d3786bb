"""Predicate DML over a LakeTable: DELETE WHERE / UPDATE WHERE.

The reference exposes row-lifecycle DML through its repository layer —
delete-by-id (``/root/reference/app/database/repositories.py:70-83``) and
field updates on existing documents (``repositories.py:51-68``) — always one
row at a time. At lake scale the operations a real operator runs are
set-oriented: "drop every turn of user X" (GDPR erasure), "retire transcripts
older than the retention window", "redact a tool name everywhere". This
module restates those as declarative predicate DML compiled onto the SAME
version-checked merge primitive the CDC stream uses, so ad-hoc DML and
streaming ingest can never disagree about visibility or ordering:

1. read the CURRENT state (LWW winners, live rows) of the table and filter
   it by the predicate — the matched rows are the DML's snapshot, exactly
   like ``MERGE INTO t USING (SELECT ... FROM t WHERE p)`` in Iceberg/Delta;
2. turn each matched row into a change event carrying the row's OWN version
   plus one microsecond (``ts + 1µs``, same ``_lsn``): the generated event
   out-versions precisely the row it read and nothing else. A concurrent
   stream update with a newer event time still wins — predicate DML is
   snapshot-consistent, it does not fence the future;
3. route the events through ``merge_into`` — bucket pruning, tombstone
   fencing, atomic snapshot commit and time travel all apply unchanged.
   Re-running a delete matches nothing (the victims are gone) and
   commits nothing; re-running an update re-matches like
   SQL UPDATE does and is value-idempotent for idempotent assignments.

Deletes persist as ordinary ``_deleted`` tombstones, so a late-arriving
pre-DML update cannot resurrect an erased key, and compaction's lateness
watermark expires them on the normal schedule.

Shuffle budget: one LWW hash-aggregation over the pruned current state to
find victims + the merge's own reduction (`operators.merge`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.operators.merge import SYSTEM_COL_NAMES, merge_into
from etl_documentos_spark.schemas import KEY_COLS

def _one_micro() -> Column:
    """One version tick: the generated change out-versions the row it read.
    (Built lazily — Column construction needs an active SparkContext.)"""
    return F.expr("INTERVAL 1 MICROSECOND")


def _current_rows(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Current live state WITH system columns (``_lsn`` feeds the version
    tick; ``read_current`` drops it, so DML reduces the scan itself)."""
    cur = lww_dedup(
        table.scan(spark), key_cols=KEY_COLS, order_cols=("ts", "_lsn")
    )
    return cur.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))


def _as_predicate(predicate: Column | str) -> Column:
    return F.expr(predicate) if isinstance(predicate, str) else predicate


def _apply(
    spark: SparkSession, table: LakeTable, changes: DataFrame
) -> int:
    """Run the generated change batch through the version-checked merge;
    returns the number of rows the DML affected (the batch's keys after
    its own LWW)."""
    changes = changes.persist()
    try:
        n = lww_dedup(changes).count()
        merge_into(spark, table, changes)
        return n
    finally:
        changes.unpersist()


def delete_where(
    spark: SparkSession, table: LakeTable, predicate: Column | str
) -> int:
    """DELETE FROM table WHERE predicate — returns rows deleted.

    Matched current rows become delete tombstones versioned one microsecond
    above the row they erase (see module docstring for the consistency
    contract). Payload columns ride along NULL; the tombstone's only job is
    to out-version its victim and fence late duplicates.
    """
    victims = _current_rows(spark, table).filter(_as_predicate(predicate))
    changes = victims.select(
        F.lit("delete").alias("op"),
        *[F.col(k) for k in KEY_COLS],
        (F.col("ts") + _one_micro()).alias("ts"),
        F.col("_lsn").alias("lsn"),
    )
    return _apply(spark, table, changes)


def update_where(
    spark: SparkSession,
    table: LakeTable,
    predicate: Column | str,
    assignments: dict[str, Column],
) -> int:
    """UPDATE table SET col = expr, ... WHERE predicate — returns rows
    updated.

    ``assignments`` maps column name -> Column expression evaluated against
    the matched row (so ``{"text": F.concat(F.col("text"), F.lit("!"))}``
    works). Key columns cannot be assigned (that is a delete + insert, two
    different keys); ``ts`` cannot be assigned (it IS the row version — the
    engine advances it by the one-microsecond tick).
    """
    names = {f.name for f in table.schema.fields}
    bad = set(assignments) - names
    if bad:
        raise ValueError(f"unknown columns: {sorted(bad)}")
    fenced = set(assignments) & ({*KEY_COLS, "ts", *SYSTEM_COL_NAMES})
    if fenced:
        raise ValueError(
            f"cannot assign {sorted(fenced)}: key columns identify the row; "
            "ts and the system columns are the row version (engine-managed)"
        )
    victims = _current_rows(spark, table).filter(_as_predicate(predicate))
    payload = [
        f.name
        for f in table.schema.fields
        if f.name not in KEY_COLS
        and f.name != "ts"
        and f.name not in SYSTEM_COL_NAMES  # merge re-derives these
    ]
    changes = victims.select(
        F.lit("update").alias("op"),
        *[F.col(k) for k in KEY_COLS],
        *[
            (assignments[c] if c in assignments else F.col(c)).alias(c)
            for c in payload
        ],
        (F.col("ts") + _one_micro()).alias("ts"),
        F.col("_lsn").alias("lsn"),
    )
    return _apply(spark, table, changes)


def insert_into(
    spark: SparkSession,
    table: LakeTable,
    rows: DataFrame,
    branch: str | None = None,
) -> int:
    """INSERT INTO table — returns rows inserted.

    ``rows`` carries the key columns, any subset of payload columns
    (missing ones land NULL) and ``ts`` (the row version; inserts supply
    their own, unlike UPDATE/DELETE which tick the matched row's). Rows
    enter the version-checked merge as ``op='insert'`` events at
    ``lsn = 0``: a key that already exists with a newer version keeps
    winning (LWW) — INSERT is snapshot-consistent upsert-by-version, the
    only insert semantics compatible with a keyed change-log table.

    ``branch``: write onto a named branch instead of main (WAP). The
    branch path routes through the MERGE-ON-READ apply (delta append on
    the branch head) rather than copy-on-write — identical visible
    semantics under the LWW read reduction, and main's files are never
    rewritten by an unpublished write.
    """
    names = {f.name for f in rows.schema.fields}
    missing = {*KEY_COLS, "ts"} - names
    if missing:
        raise ValueError(f"INSERT rows must carry {sorted(missing)}")
    payload = [
        f.name
        for f in table.schema.fields
        if f.name not in KEY_COLS
        and f.name != "ts"
        and f.name not in SYSTEM_COL_NAMES
    ]
    types = {f.name: f.dataType for f in table.schema.fields}
    changes = rows.select(
        F.lit("insert").alias("op"),
        *[F.col(k) for k in KEY_COLS],
        *[
            (
                F.col(c)
                if c in names
                # typed NULL: the batch carries the table's types (both
                # writers also cast a column to the table's type)
                else F.lit(None).cast(types[c])
            ).alias(c)
            for c in payload
        ],
        F.col("ts"),
        F.lit(0).cast("long").alias("lsn"),
    )
    if branch is not None:
        from etl_documentos_spark.operators.merge import merge_mor

        changes = changes.persist()
        try:
            n = changes.count()
            merge_mor(spark, table, changes, branch=branch)
            return n
        finally:
            changes.unpersist()
    return _apply(spark, table, changes)


def merge_when(
    spark: SparkSession,
    table: LakeTable,
    source: DataFrame,
    matched: list[tuple[str, Column | str | None, dict[str, Column] | None]]
    | None = None,
    not_matched: tuple[Column | str | None, dict[str, Column] | None]
    | None = None,
    target_alias: str = "t",
    source_alias: str = "s",
) -> dict[str, int]:
    """MERGE INTO table USING source ON <key equality> — one atomic commit.

    The ANSI MERGE statement compiled onto the engine's version-checked
    merge. The join is ALWAYS the table's key equality (conv_id, turn_idx)
    — the restriction that keeps MERGE bucket-prunable at 10^10 rows
    (arbitrary ON conditions are a different operator: use a join + DML).
    Row-level conditions go on the clauses instead, exactly like
    Iceberg/Delta MERGE:

    - ``matched``: ordered WHEN MATCHED clauses, each
      ``("update", cond, assignments)`` or ``("delete", cond, None)``;
      ``cond`` (Column or SQL string, None = always) may reference both
      sides via the aliases (default ``t.``/``s.``); first matching clause
      wins per row, as in SQL.
    - ``not_matched``: one WHEN NOT MATCHED clause ``(cond, values)``;
      ``values`` maps column -> expression over the source row (must cover
      ``ts``) — None means INSERT * (take the source's columns, which must
      then include ``ts``).

    All clauses compile into ONE change batch applied by ONE
    ``merge_into`` call: matched rows tick their own version (+1µs, same
    contract as UPDATE/DELETE WHERE), inserts enter at the source-provided
    version — bumped to one tick above the key's delete-tombstone fence
    when that fence is equal-or-newer, so a WHEN NOT MATCHED INSERT always
    lands (ANSI semantics) instead of being silently fenced by a prior
    DELETE's version — so the whole statement is a single snapshot commit,
    atomic under concurrent readers and crash-safe like any other commit.

    Returns ``{"updated": n, "deleted": n, "inserted": n}``.

    Reference parity: upsert-by-id is the reference repository's
    create-or-update path (/root/reference/app/database/repositories.py:
    23-68), restated set-oriented.
    """
    matched = matched or []
    payload = [
        f.name
        for f in table.schema.fields
        if f.name not in KEY_COLS
        and f.name != "ts"
        and f.name not in SYSTEM_COL_NAMES
    ]
    ta, sa = target_alias, source_alias

    def as_cond(c: Column | str | None) -> Column:
        if c is None:
            return F.lit(True)
        return F.expr(c) if isinstance(c, str) else c

    cur = _current_rows(spark, table).alias(ta)
    src = source.alias(sa)
    key_eq = [
        F.col(f"{ta}.{k}") == F.col(f"{sa}.{k}") for k in KEY_COLS
    ]
    branches: list[DataFrame] = []

    if matched:
        on = key_eq[0]
        for e in key_eq[1:]:
            on = on & e
        joined = cur.join(src, on=on, how="inner")
        guard = F.lit(True)  # NOT of every earlier clause's condition
        for action, cond, assignments in matched:
            take = guard & as_cond(cond)
            guard = guard & ~as_cond(cond)
            if action == "update":
                assignments = assignments or {}
                fenced = set(assignments) & (
                    {*KEY_COLS, "ts", *SYSTEM_COL_NAMES}
                )
                if fenced:
                    raise ValueError(
                        f"cannot assign {sorted(fenced)} in WHEN MATCHED "
                        "UPDATE: keys identify the row; ts/system columns "
                        "are the row version (engine-managed)"
                    )
                branches.append(
                    joined.filter(take).select(
                        F.lit("update").alias("op"),
                        *[F.col(f"{ta}.{k}").alias(k) for k in KEY_COLS],
                        *[
                            (
                                assignments[c]
                                if c in assignments
                                else F.col(f"{ta}.{c}")
                            ).alias(c)
                            for c in payload
                        ],
                        (F.col(f"{ta}.ts") + _one_micro()).alias("ts"),
                        F.col(f"{ta}._lsn").alias("lsn"),
                    )
                )
            elif action == "delete":
                branches.append(
                    joined.filter(take).select(
                        F.lit("delete").alias("op"),
                        *[F.col(f"{ta}.{k}").alias(k) for k in KEY_COLS],
                        (F.col(f"{ta}.ts") + _one_micro()).alias("ts"),
                        F.col(f"{ta}._lsn").alias("lsn"),
                    )
                )
            else:
                raise ValueError(f"unknown MATCHED action {action!r}")

    if not_matched is not None:
        cond, values = not_matched
        # Tombstone fence: a NOT MATCHED key may still carry a delete
        # tombstone whose version (ts, lsn) is >= the source-provided
        # version — the version-checked merge would then fence the insert
        # out and the row the statement promised would silently not
        # appear (found by the hypothesis oracle on an exact version
        # tie). ANSI MERGE semantics win at the SQL door: the insert
        # enters STRICTLY above the fence (ts bumped to fence + 1µs when
        # needed — the same engine-managed version tick matched clauses
        # already apply to ts).
        # The fence is computed over the SOURCE'S keys only (left-semi
        # before the LWW window), so its cost scales with the statement,
        # not the table — a 3-key MERGE against a 10^10-row table must
        # not pay a whole-table window pass.
        winners = lww_dedup(
            table.scan(spark).join(
                source.select(*KEY_COLS).dropDuplicates(),
                on=list(KEY_COLS),
                how="left_semi",
            ),
            key_cols=KEY_COLS,
            order_cols=("ts", "_lsn"),
        )
        fence = winners.filter(
            F.coalesce(F.col("_deleted"), F.lit(False))
        ).select(*KEY_COLS, F.col("ts").alias("_fence_ts"))
        fresh = (
            src.join(cur.select(*KEY_COLS), on=KEY_COLS, how="left_anti")
            .filter(as_cond(cond))
            .join(fence, on=KEY_COLS, how="left")
        )
        src_names = {f.name for f in source.schema.fields}
        if values is None:  # INSERT *
            missing = {*KEY_COLS, "ts"} - src_names
            if missing:
                raise ValueError(
                    f"INSERT * needs source columns {sorted(missing)}"
                )
            values = {}
        if "ts" not in values and "ts" not in src_names:
            raise ValueError("WHEN NOT MATCHED INSERT must provide ts")

        def _above_fence(ts_expr: Column) -> Column:
            return F.when(
                F.col("_fence_ts").isNotNull()
                & (ts_expr <= F.col("_fence_ts")),
                F.col("_fence_ts") + _one_micro(),
            ).otherwise(ts_expr)

        branches.append(
            fresh.select(
                F.lit("insert").alias("op"),
                *[
                    (values[k] if k in values else F.col(k)).alias(k)
                    for k in KEY_COLS
                ],
                *[
                    (
                        values[c]
                        if c in values
                        else (
                            F.col(c) if c in src_names else F.lit(None)
                        )
                    ).alias(c)
                    for c in payload
                ],
                _above_fence(
                    values["ts"] if "ts" in values else F.col("ts")
                ).alias("ts"),
                F.lit(0).cast("long").alias("lsn"),
            )
        )

    if not branches:
        raise ValueError("MERGE needs at least one WHEN clause")
    changes = branches[0]
    for b in branches[1:]:
        changes = changes.unionByName(b, allowMissingColumns=True)
    changes = changes.persist()
    try:
        counts = {
            r["op"]: r["count"]
            for r in changes.groupBy("op").count().collect()
        }
        merge_into(spark, table, changes)
        return {
            "updated": int(counts.get("update", 0)),
            "deleted": int(counts.get("delete", 0)),
            "inserted": int(counts.get("insert", 0)),
        }
    finally:
        changes.unpersist()
