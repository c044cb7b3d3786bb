"""Tests of the benchmark's own helpers (no Spark): python3 -m pytest perfbench"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats as S  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


# ------------------------------------------------------------ percentiles
def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert S.percentile(xs, 0.5) == 50
    assert S.percentile(xs, 0.9) == 90
    assert S.percentile(list(reversed(xs)), 0.9) == 90


def test_percentile_refuses_unsupported():
    # p90 of 99 samples leaves only 9 beyond it
    with pytest.raises(S.UnsupportedPercentile):
        S.percentile(list(range(99)), 0.9)
    with pytest.raises(S.UnsupportedPercentile):
        S.percentile([], 0.5)
    # a smaller floor is an explicit choice of the caller
    assert S.percentile(list(range(1, 21)), 0.9, min_beyond=2) == 18


def test_percentile_rejects_bad_q():
    with pytest.raises(ValueError):
        S.percentile([1, 2, 3], 1.0)


def test_highest_supported():
    assert S.highest_supported(100) == 90
    assert S.highest_supported(1000) == 99
    assert S.highest_supported(20) == 50
    assert S.highest_supported(10) is None
    # whatever it returns is accepted by percentile
    for n in (11, 37, 64, 150):
        p = S.highest_supported(n)
        S.percentile(list(range(n)), p / 100)
        if p < 99:
            with pytest.raises(S.UnsupportedPercentile):
                S.percentile(list(range(n)), (p + 1) / 100)


def test_run_percentile_fails_the_run_instead_of_raising():
    run = W.Run(spark=None, work="", seed=0)
    # p90 of 3 samples has none beyond it: reported as the max, run failed
    assert W.pct(run, [3.0, 1.0, 2.0], 0.9) == 3.0
    assert (run.attempted, run.failed, len(run.problems)) == (1, 1, 1)
    assert W.pct(run, list(range(1, 21)), 0.9) == 18
    assert run.failed == 1


# ------------------------------------------------------------ workload shape
def test_lookup_keys_fixed_and_hot_every_fourth():
    keys = W.lookup_keys(3, 20, 20_000)
    assert keys == W.lookup_keys(3, 20, 20_000)
    assert keys != W.lookup_keys(4, 20, 20_000)
    assert [i for i, k in enumerate(keys) if k == "conv_hot"] == [0, 4, 8, 12, 16]


def test_tail_input_holds_a_cycle_at_any_cpu_count():
    sys.path.insert(0, os.path.dirname(HERE))
    # 4 files per bucket per epoch from local[4] up: the 17th epoch
    # compacts; below that as little as one file per bucket is assumed
    assert [W.tail_max_epochs(n) for n in (4, 5, 8, 64)] == [24] * 4
    assert [W.tail_max_epochs(n) for n in (1, 2, 3)] == [72] * 3


# ------------------------------------------------------------ epoch kinds
def snap(sid, op, files, **summary):
    return SimpleNamespace(snapshot_id=sid, operation=op, summary=summary,
                           files=files)


FOUR = {str(b): [f"f{b}"] for b in range(4)}


def test_classify_plain():
    before = [snap(1, "create", {})]
    after = before + [snap(2, "append", FOUR)]
    assert S.classify_epoch(before, after) == S.PLAIN
    assert S.classify_epoch(after, after) == S.PLAIN


def test_classify_full_and_partial():
    before = [snap(1, "create", {}), snap(2, "append", FOUR)]
    full = before + [
        snap(3, "append", FOUR),
        snap(4, "overwrite", FOUR, buckets_replaced=[0, 1, 2, 3], maintenance=True),
    ]
    assert S.classify_epoch(before, full) == S.FULL
    part = before + [
        snap(3, "append", FOUR),
        snap(4, "overwrite", FOUR, buckets_replaced=[2], maintenance=True),
    ]
    assert S.classify_epoch(before, part) == S.PARTIAL


# ------------------------------------------------------------ host stamps
def test_steal_fraction():
    assert S.steal_fraction((10, 1000), (30, 2000)) == pytest.approx(0.02)
    assert S.steal_fraction((10, 1000), (10, 1000)) == 0.0
    steal, total = S.cpu_times()
    assert 0 <= steal <= total


def test_driver_mem_sized_to_box():
    gib = 1024 * 1024
    assert S.driver_mem_mb(15 * gib) == 2048
    assert S.driver_mem_mb(6 * gib) == 1536
    assert S.driver_mem_mb(2 * gib) == 1024


# ------------------------------------------------------------------ spans
def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    with tr.span("root") as root:
        with tr.span("a") as a:
            with tr.span("b"):
                pass
    assert root.child_s == pytest.approx(a.dur)
    assert a.self_s <= a.dur
    assert tr.within("root") == tr.spans[1:]
    assert [s.parent for s in tr.spans] == [None, 0, 1]


def test_patch_and_unpatch_every_kind():
    class K:
        def m(self, x):
            return x + 1

        @classmethod
        def c(cls, x):
            return x * 2

    mod = SimpleNamespace(f=lambda x: -x)
    tr = tracing.Tracer()
    orig_m, orig_c = K.__dict__["m"], K.__dict__["c"]
    tr.patch(K, "m", "m")
    tr.patch(K, "c", "c", note=lambda cls, x: {"x": x})
    tr.patch(mod, "f", "f")
    assert K().m(1) == 2 and K.c(3) == 6 and mod.f(4) == -4
    assert [s.name for s in tr.spans] == ["m", "c", "f"]
    assert tr.spans[1].args == {"x": 3}
    tr.unpatch()
    assert K.__dict__["m"] is orig_m and K.__dict__["c"] is orig_c
    K().m(1)
    assert len(tr.spans) == 3
