"""Mergeable approximate sketches as pure column expressions.

Four classic cardinality/frequency/sample/quantile sketches, each built
as two-phase DataFrame aggregations over deterministic md5-derived
hashes — zero Python in the hot path, zero driver state, and every
partial is mergeable, so the map-side combine Catalyst already performs
IS the sketch union. At 10^10 rows each operator's shuffle cardinality
is bounded by the sketch size (registers / buckets / k / bins), not the
data: the reduce side never sees more than ``groups x m`` rows.

Determinism contract: all hashing is ``md5`` (the repo-wide portable
hash — Spark ``F.md5`` and DuckDB ``md5`` agree byte-for-byte), so a
sketch estimate is a pure function of the input SET — reproducible at
any parallelism, any partitioning, any retry. That is what makes these
oracle-checkable: the DuckDB twin re-derives the same registers from
the same hashes and must land on the identical estimate.

The streaming replay already carries a register-blob HyperLogLog for
per-epoch stats (``streaming/apply.py:merge_hll_counts`` — numpy
registers merged driver-side per epoch); ``hll_distinct`` here is its
batch columnar twin: same estimator, but the registers live in a
grouped DataFrame and never leave the executors.

Reference semantics analogue: the reference's dashboard aggregates
per-type document counts / top-N with exact SQL over Postgres
(/root/reference/app/services/analytics_service.py:69-76 grouped
counts; /root/reference/app/database/repositories.py:172-174 top-5 by
count); at lake scale the same dashboards run on sketches.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    """HLL bias constant: exact small-m values (Flajolet et al. 2007),
    asymptotic form above 64 — shared by the Spark and oracle paths so
    both compute the identical double."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )


def _hex_rank(sub: F.Column) -> F.Column:
    """1-based position of the highest set bit in an 8-hex-char string,
    counted from the MSB — i.e. (number of leading zero BITS) + 1, the
    HyperLogLog register value. 33 when all 32 bits are zero.

    Computed from the hex STRING (leading-'0' count x 4 bits, plus a
    CASE on the first nonzero digit) rather than ``log2`` so the result
    is exact integer arithmetic on both engines — no libm in the
    register path.
    """
    z = F.length(F.regexp_extract(sub, "^(0*)", 1))
    # first nonzero hex digit after z zeros
    first_nz = F.substring(sub, (z + 1).cast("int"), 1)
    extra = (
        F.when(first_nz == "1", F.lit(3))
        .when(first_nz.isin("2", "3"), F.lit(2))
        .when(first_nz.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    return F.when(z >= 8, F.lit(33)).otherwise(z * 4 + extra + 1)


def hll_distinct(
    df: DataFrame,
    key: str,
    group_cols: list[str],
    m: int = 256,
) -> DataFrame:
    """HyperLogLog distinct-``key`` estimate per group, as two grouped
    aggregations (register max, then the bias-corrected harmonic mean
    with the linear-counting small-range correction).

    ``m`` must be hex-aligned (16, 256, 4096, or 65536: register index
    = the first ``log2(m)/4`` hex chars of ``md5(key)``; rank =
    leading-zero count of the next 32 bits). Relative error ~
    ``1.04/sqrt(m)``. Ranks use 32 hash bits, so per-group cardinality
    is estimable up to ~2^32; the standard large-range correction
    ``-2^32 * ln(1 - E/2^32)`` is applied above ``2^32/30``, and groups
    approaching 2^32 distinct keys need a 64-bit-rank variant (split
    the group upstream, or sum sub-group estimates).

    Scale: the first shuffle is capped at ``groups x m`` rows
    regardless of input size (map-side combine folds each partition to
    its register maxima first); the second is ``groups``. Every
    floating term in the harmonic sum is a dyadic rational ``2^-r``
    with ``r <= 33`` and the sum is < m <= 2^16, so the double
    accumulation is EXACT and order-independent — the estimate is a
    deterministic function of the register multiset, which is what the
    DuckDB oracle twin re-derives.

    Output: ``group_cols + [est_distinct]`` (BIGINT).
    """
    p = int(math.log2(m))
    if 2**p != m or not 4 <= p <= 16 or p % 4 != 0:
        raise ValueError("m must be 16, 256, 4096, or 65536 (hex-aligned)")
    hexdigits = p // 4
    h = F.md5(F.col(key).cast("string"))
    idx = F.conv(F.substring(h, 1, hexdigits), 16, 10).cast("int")
    rank = _hex_rank(F.substring(h, hexdigits + 1, 8))
    regs = (
        df.select(*group_cols, idx.alias("_idx"), rank.alias("_rank"))
        .groupBy(*group_cols, "_idx")
        .agg(F.max("_rank").alias("_reg"))
    )
    alpha = _alpha(m)
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_reg"))).alias("_harm_present"),
        F.count("*").alias("_n_present"),
    )
    # absent registers hold 0 -> each contributes 2^0 = 1 to the
    # harmonic sum and counts toward the linear-counting zero set
    harm = (F.lit(float(m)) - F.col("_n_present")) + F.col("_harm_present")
    zeros = F.lit(m) - F.col("_n_present")
    raw = F.lit(alpha * m * m) / harm
    two32 = float(1 << 32)
    est = (
        F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
        )
        .when(
            raw > two32 / 30.0,
            F.lit(-two32) * F.log(F.lit(1.0) - raw / F.lit(two32)),
        )
        .otherwise(raw)
    )
    return agg.select(
        *group_cols, F.round(est, 0).cast("bigint").alias("est_distinct")
    )


def hll_oracle_sql(
    source_sql: str,
    key: str,
    group_cols: list[str],
    m: int = 256,
) -> str:
    """DuckDB twin of :func:`hll_distinct` — same md5-derived registers,
    same estimator, emitted as ANSI SQL for the correctness gate."""
    p = int(math.log2(m))
    hexdigits = p // 4
    gcols = ", ".join(group_cols)
    alpha = _alpha(m)
    two32 = float(1 << 32)
    return f"""
        WITH src AS ({source_sql}),
        h AS (
          SELECT {gcols},
                 CAST(CONCAT('0x', substring(md5(CAST({key} AS VARCHAR)), 1, {hexdigits})) AS BIGINT) AS _idx,
                 substring(md5(CAST({key} AS VARCHAR)), {hexdigits + 1}, 8) AS _sub
          FROM src),
        r AS (
          SELECT {gcols}, _idx,
                 CASE WHEN len(regexp_extract(_sub, '^(0*)', 1)) >= 8 THEN 33
                      ELSE len(regexp_extract(_sub, '^(0*)', 1)) * 4
                           + CASE substring(_sub, len(regexp_extract(_sub, '^(0*)', 1)) + 1, 1)
                               WHEN '1' THEN 3
                               WHEN '2' THEN 2 WHEN '3' THEN 2
                               WHEN '4' THEN 1 WHEN '5' THEN 1
                               WHEN '6' THEN 1 WHEN '7' THEN 1
                               ELSE 0 END
                           + 1 END AS _rank
          FROM h),
        regs AS (
          SELECT {gcols}, _idx, max(_rank) AS _reg
          FROM r GROUP BY {gcols}, _idx),
        agg AS (
          SELECT {gcols},
                 sum(pow(2.0, -_reg)) AS _harm_present,
                 count(*) AS _n_present
          FROM regs GROUP BY {gcols}),
        est AS (
          SELECT {gcols},
                 ({m}.0 - _n_present) + _harm_present AS _harm,
                 {m} - _n_present AS _zeros,
                 CAST({alpha * m * m!r} AS DOUBLE) / (({m}.0 - _n_present) + _harm_present) AS _raw
          FROM agg)
        SELECT {gcols},
               CAST(round(CASE WHEN _raw <= 2.5 * {m} AND _zeros > 0
                               THEN {m}.0 * ln({m}.0 / _zeros)
                               WHEN _raw > CAST({two32 / 30.0!r} AS DOUBLE)
                               THEN CAST({-two32!r} AS DOUBLE)
                                    * ln(1.0 - _raw / CAST({two32!r} AS DOUBLE))
                               ELSE _raw END, 0) AS BIGINT) AS est_distinct
        FROM est
    """


def cms_heavy_hitters(
    df: DataFrame,
    key: str,
    threshold: int,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Count-min-sketch heavy hitters: keys whose CMS frequency estimate
    meets ``threshold``, with the estimate.

    Phase 1 builds the ``depth x width`` sketch as ONE grouped count
    whose cardinality is capped at ``depth * width`` rows (each input
    row explodes into ``depth`` (seed, bucket) increments; map-side
    combine folds them before the exchange). Phase 2 probes: the
    distinct-key table joins the broadcast sketch on its ``depth``
    buckets and takes the row-wise MIN — the classic one-sided
    overestimate (``est >= true``, collisions only inflate). Buckets
    are ``md5(seed # key)`` so the sketch is a pure function of the
    input multiset; a NULL key hashes as the empty string, on this side
    and in the DuckDB twin alike.

    Scale: the sketch never exceeds ``depth*width`` rows (broadcast
    side), and the probe is a distinct-key scan — no per-key state
    beyond the hash. Overestimation bound: ``est <= true + e*N/width``
    with probability ``1 - (1/2)^depth`` on each probe.

    Output: ``[key, est_count]`` for keys with ``est_count >=
    threshold``, BIGINT.
    """
    seeds = F.array([F.lit(s) for s in range(depth)])
    hashed = df.select(
        F.col(key).cast("string").alias("_k"),
        F.explode(seeds).alias("_seed"),
    ).select(
        "_k",
        "_seed",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#", F.col("_seed"), F.coalesce("_k", F.lit(""))
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % width
        ).alias("_bucket"),
    )
    sketch = hashed.groupBy("_seed", "_bucket").agg(
        F.count("*").alias("_cnt")
    )
    probes = hashed.distinct()
    est = (
        probes.join(F.broadcast(sketch), ["_seed", "_bucket"])
        .groupBy("_k")
        .agg(F.min("_cnt").alias("est_count"))
    )
    return est.filter(F.col("est_count") >= threshold).select(
        F.col("_k").alias(key), "est_count"
    )


def cms_oracle_sql(
    source_sql: str,
    key: str,
    threshold: int,
    depth: int = 3,
    width: int = 64,
) -> str:
    """DuckDB twin of :func:`cms_heavy_hitters`."""
    return f"""
        WITH src AS ({source_sql}),
        hashed AS (
          SELECT CAST({key} AS VARCHAR) AS _k, s.seed AS _seed,
                 CAST(CONCAT('0x', substring(md5(CONCAT(s.seed, '#', COALESCE(CAST({key} AS VARCHAR), ''))), 1, 8)) AS BIGINT) % {width} AS _bucket
          FROM src, (SELECT unnest(generate_series(0, {depth - 1})) AS seed) s),
        sketch AS (
          SELECT _seed, _bucket, count(*) AS _cnt
          FROM hashed GROUP BY _seed, _bucket),
        probes AS (SELECT DISTINCT _k, _seed, _bucket FROM hashed),
        est AS (
          SELECT p._k, min(sk._cnt) AS est_count
          FROM probes p JOIN sketch sk
            ON p._seed = sk._seed AND p._bucket = sk._bucket
          GROUP BY p._k)
        SELECT _k AS {key}, CAST(est_count AS BIGINT) AS est_count
        FROM est WHERE est_count >= {threshold}
    """


def hash_sample(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    salt: str = "",
    id_col: str = "event_id",
) -> DataFrame:
    """Deterministic fixed-size uniform sample per group: the ``k`` rows
    with the smallest ``md5(salt || id)`` — the hash order is uniform
    and independent of the data, so this IS a uniform without-
    replacement sample, but reproducible at any parallelism / retry
    (unlike reservoir sampling, whose result depends on encounter
    order, or ``rand()``, whose seed is per-task).

    ``id_col`` should be UNIQUE and non-null per group: the order
    tie-breaks on the id itself (two rows sharing an id would otherwise
    be ranked by partition layout, breaking the any-parallelism
    contract), and NULL ids sort LAST explicitly (Spark's ASC default
    is nulls-FIRST, DuckDB's is nulls-LAST — nulls_last matches the
    oracle side), so NULL-id rows are only sampled after every real id.

    Scale: one window over the group key (the same exchange any per-key
    operator pays); per-key sort state is bounded by the partition
    sort, and the output is ``groups x k``. For group-free row
    sampling compose with a constant group.

    Output: input columns + ``sample_rank`` (1..k).
    """
    hval = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(
        hval.asc_nulls_last(),
        F.col(id_col).cast("string").asc_nulls_last(),
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def binned_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: list[float],
    n_bins: int = 128,
) -> DataFrame:
    """Mergeable equi-width-histogram quantiles per group — the two-pass
    distributed quantile sketch: pass 1 computes each group's (min,
    max, count); pass 2 bins values into ``n_bins`` fixed-width buckets
    and reads each quantile as the upper edge of the first bucket whose
    cumulative count reaches ``ceil(q * n)``.

    Error bound: the reported value is within ``(max-min)/n_bins`` of
    the true quantile — a deterministic guarantee (unlike sampling
    sketches), and the histogram is mergeable (bucket counts add), so
    partial aggregation is exact. This is the estimator to reach for
    when values are bounded (scores, latencies after capping); for
    unbounded heavy tails compose with a log transform first.

    Scale: two grouped aggregations, both with map-side combine; the
    second's cardinality is capped at ``groups x n_bins``. The min/max
    pass broadcasts back as a ``groups``-row join (tiny). All binning
    arithmetic is the same IEEE double expression on both engines, so
    the DuckDB twin is bit-reproducible.

    Output: ``group_cols + [q, approx_value]`` with ``q`` the requested
    quantile and ``approx_value`` the bucket upper edge, rounded to 6
    decimals.
    """
    bad = [q for q in qs if not 0.0 < float(q) <= 1.0]
    if bad:
        # q=0 would silently emit no row (ceil(0*n)=0 never crosses the
        # cumulative filter) — surface it at call time instead
        raise ValueError(f"quantiles must be in (0, 1]: {bad}")
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*group_cols).agg(
        F.min(v).alias("_lo"),
        F.max(v).alias("_hi"),
        F.count(v).alias("_n"),
    )
    joined = df.join(F.broadcast(bounds), group_cols)
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    bin_ = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor((v - F.col("_lo")) / width).cast("int"),
        )
    )
    hist = (
        joined.select(*group_cols, "_lo", "_hi", "_n", bin_.alias("_bin"))
        .groupBy(*group_cols, "_lo", "_hi", "_n", "_bin")
        .agg(F.count("*").alias("_cnt"))
    )
    cum = hist.withColumn(
        "_cum",
        F.sum("_cnt").over(
            Window.partitionBy(*group_cols).orderBy("_bin")
        ),
    )
    q_arr = F.array([F.lit(float(q)) for q in qs])
    expanded = cum.withColumn("q", F.explode(q_arr))
    target = F.ceil(F.col("q") * F.col("_n"))
    hit = expanded.filter(F.col("_cum") >= target).filter(
        (F.col("_cum") - F.col("_cnt")) < target
    )
    edge = F.col("_lo") + (F.col("_bin") + 1) * (
        (F.col("_hi") - F.col("_lo")) / n_bins
    )
    return hit.select(
        *group_cols,
        "q",
        F.round(edge, 6).alias("approx_value"),
    )


def binned_quantiles_oracle_sql(
    source_sql: str,
    value_col: str,
    group_cols: list[str],
    qs: list[float],
    n_bins: int = 128,
) -> str:
    """DuckDB twin of :func:`binned_quantiles` — identical binning
    arithmetic (same IEEE expression shapes) so edges match exactly."""
    gcols = ", ".join(group_cols)
    q_list = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
        WITH src AS ({source_sql}),
        bounds AS (
          SELECT {gcols}, min(CAST({value_col} AS DOUBLE)) AS _lo,
                 max(CAST({value_col} AS DOUBLE)) AS _hi,
                 count({value_col}) AS _n
          FROM src GROUP BY {gcols}),
        binned AS (
          SELECT b.{gcols.replace(', ', ', b.')}, b._lo, b._hi, b._n,
                 CASE WHEN b._hi = b._lo THEN 0
                      ELSE least({n_bins - 1},
                           CAST(floor((CAST(s.{value_col} AS DOUBLE) - b._lo)
                                / ((b._hi - b._lo) / {n_bins})) AS INT))
                 END AS _bin
          FROM src s JOIN bounds b USING ({gcols})),
        hist AS (
          SELECT {gcols}, _lo, _hi, _n, _bin, count(*) AS _cnt
          FROM binned GROUP BY {gcols}, _lo, _hi, _n, _bin),
        cum AS (
          SELECT *, sum(_cnt) OVER (
            PARTITION BY {gcols} ORDER BY _bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum
          FROM hist),
        expanded AS (
          SELECT c.*, q.q FROM cum c,
                 (SELECT unnest([{q_list}]) AS q) q),
        hit AS (
          SELECT * FROM expanded
          WHERE _cum >= ceil(q * _n) AND (_cum - _cnt) < ceil(q * _n))
        SELECT {gcols}, q,
               round(_lo + (_bin + 1) * ((_hi - _lo) / {n_bins}), 6)
                 AS approx_value
        FROM hit
    """
