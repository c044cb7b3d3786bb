"""Sketch-family properties: accuracy bounds, one-sidedness,
parallelism-independence (the determinism contract that makes the
sketches oracle-checkable), and plan-shape guarantees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_documentos_spark.operators.sketch import (
    binned_quantiles,
    cms_heavy_hitters,
    hash_sample,
    hll_distinct,
)


@pytest.fixture(scope="module")
def keyed(spark):
    # 3 groups x (600 / 60 / 6) distinct keys, with repeats
    rows = []
    for g, n in (("a", 600), ("b", 60), ("c", 6)):
        for i in range(n):
            for rep in range(1 + i % 3):
                rows.append((g, f"{g}-key-{i}"))
    return spark.createDataFrame(rows, "g string, k string")


def test_hll_within_error_bound(keyed):
    est = {
        r["g"]: r["est_distinct"]
        for r in hll_distinct(keyed, "k", ["g"], m=256).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in keyed.groupBy("g")
        .agg(F.countDistinct("k").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        # 1.04/sqrt(256) ~ 6.5% standard error; allow 4 sigma and the
        # small-range linear-counting regime's integer granularity
        assert abs(est[g] - n) <= max(4, 0.26 * n), (g, est[g], n)


def test_hll_parallelism_independent(keyed):
    a = hll_distinct(keyed, "k", ["g"], m=256)
    b = hll_distinct(keyed.repartition(7), "k", ["g"], m=256)
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_hll_rejects_unaligned_m(keyed):
    with pytest.raises(ValueError):
        hll_distinct(keyed, "k", ["g"], m=100)


def test_cms_never_underestimates(keyed):
    # one-sided error: est >= true for EVERY key, even with a sketch
    # narrow enough to force collisions
    est = {
        r["k"]: r["est_count"]
        for r in cms_heavy_hitters(
            keyed, "k", threshold=0, depth=3, width=32
        ).collect()
    }
    exact = {
        r["k"]: r["n"]
        for r in keyed.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)


def test_cms_threshold_keeps_all_true_heavy(keyed):
    # one-sidedness means thresholding has NO false negatives
    exact = {
        r["k"]: r["n"]
        for r in keyed.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    heavy = {
        r["k"]
        for r in cms_heavy_hitters(
            keyed, "k", threshold=3, depth=3, width=64
        ).collect()
    }
    for k, n in exact.items():
        if n >= 3:
            assert k in heavy, k


def test_hash_sample_deterministic_and_sized(keyed):
    ids = keyed.withColumn("id", F.concat_ws("|", "g", "k")).distinct()
    s1 = hash_sample(ids, ["g"], 4, salt="x", id_col="id")
    s2 = hash_sample(ids.repartition(5), ["g"], 4, salt="x", id_col="id")
    r1 = sorted(map(tuple, s1.collect()))
    assert r1 == sorted(map(tuple, s2.collect()))
    counts = {
        r["g"]: r["n"]
        for r in s1.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 4, "b": 4, "c": 4}
    # a different salt draws a different sample (of group a's 600 keys)
    s3 = hash_sample(ids, ["g"], 4, salt="y", id_col="id")
    assert r1 != sorted(map(tuple, s3.collect()))


def test_binned_quantiles_error_bound(spark):
    vals = [(i % 5, float(i)) for i in range(2000)]
    df = spark.createDataFrame(vals, "g int, v double")
    out = binned_quantiles(df, "v", ["g"], [0.5, 0.99], n_bins=100)
    exact = {
        (r["g"], q): r[f"p{int(q * 100)}"]
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.99)").alias("p99"),
        )
        .collect()
        for q in (0.5, 0.99)
    }
    spans = {
        r["g"]: (r["lo"], r["hi"])
        for r in df.groupBy("g")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    for r in out.collect():
        lo, hi = spans[r["g"]]
        width = (hi - lo) / 100
        # upper bin edge is within one bin width + interpolation slack
        # of the true percentile
        assert (
            abs(r["approx_value"] - exact[(r["g"], r["q"])])
            <= width + 1.0
        ), r


def test_binned_quantiles_constant_group(spark):
    df = spark.createDataFrame([(1, 7.0)] * 10, "g int, v double")
    rows = binned_quantiles(df, "v", ["g"], [0.5], n_bins=8).collect()
    assert len(rows) == 1 and rows[0]["approx_value"] == 7.0


def test_hll_is_set_semantics(spark, keyed):
    """Register max is idempotent: exact duplicates can NEVER move the
    estimate — the property that makes HLL safe under at-least-once
    delivery (a re-read epoch re-contributes identical registers)."""
    dup = keyed.union(keyed).union(keyed.limit(40))
    a = sorted(map(tuple, hll_distinct(keyed, "k", ["g"], m=256).collect()))
    b = sorted(map(tuple, hll_distinct(dup, "k", ["g"], m=256).collect()))
    assert a == b


def test_cms_estimates_monotone_in_data(spark, keyed):
    """Adding rows can only RAISE count-min estimates (bucket counts
    grow; min over grown columns grows) — the one-sided-error direction
    downstream thresholds rely on."""
    extra = keyed.limit(50)
    base = {
        r["k"]: r["est_count"]
        for r in cms_heavy_hitters(
            keyed, "k", threshold=0, depth=3, width=32
        ).collect()
    }
    grown = {
        r["k"]: r["est_count"]
        for r in cms_heavy_hitters(
            keyed.union(extra), "k", threshold=0, depth=3, width=32
        ).collect()
    }
    for k, v in base.items():
        assert grown[k] >= v, (k, grown[k], v)


def test_sketch_plans_bounded_exchange(keyed):
    # the HLL reduce exchange carries register rows, not data rows:
    # assert the partial aggregation (map-side combine) is present
    plan = hll_distinct(keyed, "k", ["g"], m=256)._jdf.queryExecution(
    ).executedPlan().toString()
    # the register fold must happen BEFORE the exchange (map-side
    # combine) — 'HashAggregate' alone would also match a plan that
    # shuffles raw rows
    assert "partial_max" in plan
    # CMS probe side broadcasts the sketch, never shuffles it wide
    plan2 = cms_heavy_hitters(
        keyed, "k", threshold=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan2


def test_cms_null_keys_match_duckdb_oracle(spark, tmp_path):
    """NULL keys hash the same way in the engine and its DuckDB twin: a
    NULL hashes as the empty string on both sides, so every estimate,
    the NULL key's included, agrees."""
    import duckdb

    from etl_documentos_spark.operators.sketch import cms_oracle_sql

    rows = [(None,)] * 7 + [
        (f"key-{i}",) for i in range(40) for _ in range(1 + i % 4)
    ]
    df = spark.createDataFrame(rows, "k string")
    path = str(tmp_path / "keys.parquet")
    df.coalesce(1).write.parquet(path)

    got = sorted(
        (r["k"] is None, r["k"] or "", r["est_count"])
        for r in cms_heavy_hitters(
            df, "k", threshold=0, depth=3, width=8
        ).collect()
    )
    sql = cms_oracle_sql(
        f"SELECT * FROM read_parquet('{path}/*.parquet')",
        "k", threshold=0, depth=3, width=8,
    )
    want = sorted(
        (k is None, k or "", n) for k, n in duckdb.sql(sql).fetchall()
    )
    assert got[-1][0], "the NULL key has an estimate"
    assert got == want
