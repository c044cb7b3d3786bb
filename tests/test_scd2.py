"""SCD2 version chains: interval integrity, LWW agreement, delete
closure; LSN gap audit verified against an independent DuckDB
re-derivation (its driver-window seat is taken, so the oracle runs
here instead)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from etl_documentos_spark.operators.lww import lww_dedup
from etl_documentos_spark.operators.scd2 import lsn_gaps, scd2_history


def _ts(i: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i)


@pytest.fixture(scope="module")
def changes(spark):
    rows = [
        # conv a turn 0: insert, update, update  -> 3 versions, last open
        ("insert", "a", 0, "user", "v1", _ts(1), 1, 0),
        ("update", "a", 0, "user", "v2", _ts(2), 2, 0),
        ("update", "a", 0, "user", "v3", _ts(3), 3, 0),
        # conv a turn 1: insert then delete     -> 1 closed version
        ("insert", "a", 1, "asst", "w1", _ts(1), 4, 0),
        ("delete", "a", 1, "asst", None, _ts(5), 5, 0),
        # conv b turn 0: same-ts pair, lsn breaks the tie
        ("insert", "b", 0, "user", "x1", _ts(7), 6, 1),
        ("update", "b", 0, "user", "x2", _ts(7), 7, 1),
        # conv b turn 2: delete then re-insert  -> revived, open
        ("insert", "b", 2, "user", "y1", _ts(1), 8, 1),
        ("delete", "b", 2, "user", None, _ts(2), 9, 1),
        ("insert", "b", 2, "user", "y2", _ts(3), 10, 1),
    ]
    return spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, "
        "text string, ts timestamp, lsn long, source_partition int",
    )


def test_scd2_chain_shape(changes):
    hist = scd2_history(changes, attr_cols=("role", "text"))
    by_key = {}
    for r in hist.collect():
        by_key.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    a0 = sorted(by_key[("a", 0)], key=lambda r: r["version_n"])
    assert [r["text"] for r in a0] == ["v1", "v2", "v3"]
    # half-open intervals chain exactly: valid_to == next valid_from
    assert a0[0]["valid_to"] == a0[1]["valid_from"]
    assert a0[1]["valid_to"] == a0[2]["valid_from"]
    assert a0[2]["valid_to"] is None and a0[2]["is_current"]
    assert not a0[0]["is_current"] and not a0[1]["is_current"]


def test_scd2_delete_closes_without_version(changes):
    hist = scd2_history(changes, attr_cols=("role", "text"))
    a1 = [r for r in hist.collect() if (r["conv_id"], r["turn_idx"]) == ("a", 1)]
    assert len(a1) == 1  # the delete emitted no version row
    assert a1[0]["valid_to"] == _ts(5)  # ...but closed the chain
    assert not a1[0]["is_current"]


def test_scd2_revival_reopens(changes):
    hist = scd2_history(changes, attr_cols=("role", "text"))
    b2 = sorted(
        (r for r in hist.collect() if (r["conv_id"], r["turn_idx"]) == ("b", 2)),
        key=lambda r: r["version_n"],
    )
    assert [r["text"] for r in b2] == ["y1", "y2"]
    assert b2[0]["valid_to"] == _ts(2) and not b2[0]["is_current"]
    assert b2[1]["is_current"]


def test_scd2_current_rows_equal_lww(changes):
    """The open intervals ARE the LWW final state — same total order."""
    cur = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in scd2_history(changes, attr_cols=("role", "text"))
        .filter("is_current")
        .collect()
    }
    lww = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in lww_dedup(changes).filter("op != 'delete'").collect()
    }
    assert cur == lww


def test_scd2_exact_duplicates_collapse(spark, changes):
    """At-least-once re-delivery (same key + (ts, lsn), identical
    payload) must not mint phantom zero-width versions or inflate
    version_n — the same collapse lww_dedup gives for free."""
    dup = changes.union(changes.limit(4))
    a = sorted(map(tuple, scd2_history(changes, attr_cols=("role", "text")).collect()))
    b = sorted(map(tuple, scd2_history(dup, attr_cols=("role", "text")).collect()))
    assert a == b


def test_scd2_conflicting_payloads_pick_one_deterministically(spark):
    """Two events at one (key, ts, lsn) with different payloads: one
    version survives, the same one in either input order and in the
    DuckDB oracle (first in (op, attrs) descending order, NULLs last)."""
    import duckdb

    from etl_documentos_spark.operators.scd2 import scd2_oracle_sql

    rows = [
        ("insert", "a", 0, "user", "v1", _ts(1), 1, 0),
        ("update", "a", 0, "user", "left", _ts(2), 2, 0),
        ("update", "a", 0, "user", "right", _ts(2), 2, 1),
        ("update", "a", 0, "asst", None, _ts(3), 3, 0),
        ("update", "a", 0, "asst", "t", _ts(3), 3, 1),
        ("update", "a", 0, "user", "z", _ts(4), 4, 0),
        ("delete", "a", 0, "user", "z", _ts(4), 4, 1),
    ]
    schema = (
        "op string, conv_id string, turn_idx int, role string, "
        "text string, ts timestamp, lsn long, source_partition int"
    )
    attrs = ("role", "text")
    runs = []
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order, schema)
        for d in (df, df.repartition(3, "source_partition")):
            hist = scd2_history(d, attr_cols=attrs).collect()
            runs.append(sorted(map(tuple, hist)))
    assert all(r == runs[0] for r in runs)
    got = runs[0]
    chain = sorted(got, key=lambda r: r[6])  # by version_n
    assert [r[3] for r in chain] == ["v1", "right", "t", "z"]
    assert [r[6] for r in chain] == [1, 2, 3, 4]
    con = duckdb.connect()
    con.register("ch", spark.createDataFrame(rows, schema).toPandas())
    want = sorted(
        con.execute(
            scd2_oracle_sql("SELECT * FROM ch", attr_cols=attrs)
        ).fetchall()
    )
    assert got == want


def test_scd2_parallelism_independent(changes):
    a = scd2_history(changes, attr_cols=("role", "text"))
    b = scd2_history(changes.repartition(5), attr_cols=("role", "text"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lsn_gaps_against_duckdb(spark):
    import duckdb

    rows = [
        (0, 1), (0, 2), (0, 5),          # gap 3-4
        (1, 10), (1, 11), (1, 12),       # contiguous
        (2, 7), (2, 9), (2, 20),         # gaps 8-8 and 10-19
    ]
    df = spark.createDataFrame(rows, "source_partition int, lsn long")
    got = sorted(map(tuple, lsn_gaps(df).collect()))
    con = duckdb.connect()
    con.register("ch", df.toPandas())
    want = sorted(
        map(
            tuple,
            con.execute(
                """
                WITH w AS (
                  SELECT source_partition, lsn,
                         lag(lsn) OVER (PARTITION BY source_partition
                                        ORDER BY lsn) AS prev
                  FROM ch)
                SELECT source_partition, prev + 1 AS gap_start,
                       lsn - 1 AS gap_end, lsn - prev - 1 AS n_missing
                FROM w WHERE prev IS NOT NULL AND lsn > prev + 1
                """
            ).fetchall(),
        )
    )
    assert got == want
    assert got == [(0, 3, 4, 2), (2, 8, 8, 1), (2, 10, 19, 10)]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_documentos_spark import oracle
from etl_documentos_spark.schemas import CHANGE_EVENTS

_BASE = datetime.datetime(2024, 1, 1)


@st.composite
def _streams(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    events = []
    for lsn in range(n):
        conv = f"c{draw(st.integers(0, 2))}"
        turn = draw(st.integers(0, 2))
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        ts = _BASE + datetime.timedelta(seconds=draw(st.integers(0, 5)))
        text = None if op == "delete" else f"t{lsn}"
        events.append(
            (op, conv, turn, None if op == "delete" else "user", text,
             None, ts, lsn, 0)
        )
    # exact re-delivered duplicates (same lsn + payload) — must NOT
    # mint phantom versions
    for i in draw(st.lists(st.integers(0, n - 1), max_size=5)):
        events.append(events[i])
    return events


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_streams())
def test_scd2_current_matches_oracle_on_arbitrary_streams(spark, events):
    """Open SCD2 intervals == the sequential oracle's final state, and
    each key's version chain is dense and time-ordered — on adversarial
    streams (key collisions, equal timestamps, deletes)."""
    df = spark.createDataFrame(events, CHANGE_EVENTS)
    hist = scd2_history(df, attr_cols=("role", "text")).collect()
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in hist
        if r["is_current"]
    }
    rows = [
        dict(zip([f.name for f in CHANGE_EVENTS.fields], e)) for e in events
    ]
    want = {
        (w["conv_id"], w["turn_idx"]): w["text"]
        for w in oracle.reduce_events(rows)
    }
    assert got == want
    chains: dict = {}
    for r in hist:
        chains.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    for rs in chains.values():
        rs.sort(key=lambda r: r["version_n"])
        assert [r["version_n"] for r in rs] == list(range(1, len(rs) + 1))
        froms = [r["valid_from"] for r in rs]
        assert froms == sorted(froms)
        # at most one open interval per key, and it must be the newest
        open_idx = [i for i, r in enumerate(rs) if r["valid_to"] is None]
        assert open_idx in ([], [len(rs) - 1])


def test_lsn_gaps_contiguous_is_empty(spark):
    df = spark.createDataFrame(
        [(p, i) for p in range(3) for i in range(20)],
        "source_partition int, lsn long",
    )
    assert lsn_gaps(df).count() == 0
