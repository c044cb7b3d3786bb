"""Cross-process commit concurrency: separate OS processes (the real
executor topology) appending to one table must not lose each other's
commits. Exercises BOTH commit protocols without Spark (commits are
metadata-only): ``flock`` (pessimistic POSIX mutex) and ``cas``
(optimistic put-if-absent on the next metadata version — the
object-store-portable mode; NO byte-range lock anywhere in the path)."""

from __future__ import annotations

import multiprocessing as mp

import pytest
from pyspark.sql import types as T

from etl_documentos_spark.lake.table import LakeTable

SCHEMA = T.StructType([T.StructField("x", T.LongType(), True)])


def _appender(root: str, worker: int, n_commits: int) -> None:
    table = LakeTable.load(root)
    for i in range(n_commits):
        table.commit_append({str(worker % 4): [f"data/w{worker}-{i}.parquet"]})


@pytest.mark.parametrize("mode", ["flock", "cas"])
def test_concurrent_process_commits_all_survive(tmp_path, mode):
    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=4, properties={"commit.mode": mode}
    )
    workers, commits = 6, 15
    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=_appender, args=(root, w, commits))
        for w in range(workers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    assert all(p.exitcode == 0 for p in procs)

    final = LakeTable.load(root)
    all_files = [f for fs in final.current_snapshot.files.values() for f in fs]
    assert len(all_files) == workers * commits, "a racing commit was lost"
    assert len(set(all_files)) == workers * commits
    # every commit produced exactly one snapshot after the create snapshot
    assert final.current_snapshot.snapshot_id == 1 + workers * commits


def test_overwrite_with_expected_keeps_racing_append(tmp_path):
    """Compaction shape: a file appended to a bucket AFTER the compactor's
    scan (simulated by committing between scan-capture and overwrite) must
    survive the overwrite commit as a delta file."""
    root = str(tmp_path / "t3")
    t = LakeTable.create(root, SCHEMA, num_buckets=2)
    t.commit_append({"0": ["data/base-1.parquet", "data/base-2.parquet"]})

    compactor = LakeTable.load(root)
    expected = dict(compactor.current_snapshot.files)  # the scan's view

    # another writer lands an append before the compactor commits
    other = LakeTable.load(root)
    other.commit_append({"0": ["data/late.parquet"]})

    compactor.commit_overwrite(
        {"0": ["data/compacted.parquet"]}, buckets=[0], expected=expected
    )
    final = LakeTable.load(root)
    assert sorted(final.current_snapshot.files["0"]) == [
        "data/compacted.parquet",
        "data/late.parquet",
    ], "racing append was dropped by the overwrite"


def test_overwrite_without_expected_replaces_wholesale(tmp_path):
    root = str(tmp_path / "t4")
    t = LakeTable.create(root, SCHEMA, num_buckets=2)
    t.commit_append({"0": ["data/base.parquet"]})
    t.commit_overwrite({"0": ["data/new.parquet"]}, buckets=[0])
    final = LakeTable.load(root)
    assert final.current_snapshot.files["0"] == ["data/new.parquet"]


def test_refresh_sees_other_handles_commit(tmp_path):
    root = str(tmp_path / "t2")
    t1 = LakeTable.create(root, SCHEMA, num_buckets=2)
    t2 = LakeTable.load(root)
    t1.commit_append({"0": ["data/a.parquet"]})
    # the second (stale) handle must merge on top of t1's commit, not clobber
    t2.commit_append({"1": ["data/b.parquet"]})
    final = LakeTable.load(root)
    files = final.current_snapshot.files
    assert files.get("0") == ["data/a.parquet"]
    assert files.get("1") == ["data/b.parquet"]


def test_cas_mode_uses_no_flock(tmp_path, monkeypatch):
    """The CAS path must be truly lock-free: poison fcntl.flock and drive
    a full contention scenario (two stale handles racing) — every commit
    still lands, losers re-merge on fresh metadata."""
    import fcntl

    def boom(*a, **kw):  # pragma: no cover - called means the test fails
        raise AssertionError("flock called in cas commit mode")

    monkeypatch.setattr(fcntl, "flock", boom)
    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=4, properties={"commit.mode": "cas"}
    )
    t1 = LakeTable.load(root)
    t2 = LakeTable.load(root)  # both handles now stale-race each other
    for i in range(10):
        t1.commit_append({"0": [f"data/a{i}.parquet"]})
        t2.commit_append({"1": [f"data/b{i}.parquet"]})
    final = LakeTable.load(root)
    assert len(final.current_snapshot.files["0"]) == 10
    assert len(final.current_snapshot.files["1"]) == 10
    assert final.current_snapshot.snapshot_id == 21


def test_cas_threads_on_one_handle_pin_their_own_mode(tmp_path):
    """Two threads committing through ONE handle in CAS mode, both held
    inside ``body()`` at once: each thread's pinned commit mode is its own
    (thread-local), so neither clears the other's and both commits land."""
    import threading

    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=2, properties={"commit.mode": "cas"}
    )
    table = LakeTable.load(root)
    barrier = threading.Barrier(2)
    waited: set[str] = set()
    errors: list[BaseException] = []

    def commit(key: str) -> None:
        def body():
            if key not in waited:  # only the first attempt waits
                waited.add(key)
                barrier.wait(timeout=30)
            table._meta["properties"][key] = "v"
            table._meta["metadata_version"] += 1
            table._write_metadata()

        try:
            table._commit_txn(body)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=commit, args=(k,)) for k in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
    assert not errors, errors
    props = LakeTable.load(root).properties
    assert props.get("a") == "v" and props.get("b") == "v", props


def test_cas_threads_on_one_handle_keep_their_own_changes(
    tmp_path, monkeypatch
):
    """Two threads calling ``set_property`` through ONE CAS-mode handle,
    both held at ``_write_metadata`` at once: each transaction works on
    its own metadata, so neither thread's refresh drops the other's
    change and neither publishes the other's state as its own. Both
    properties land in every trial."""
    import threading

    real_write = LakeTable._write_metadata
    for trial in range(10):
        root = str(tmp_path / f"t{trial}")
        LakeTable.create(
            root, SCHEMA, num_buckets=2, properties={"commit.mode": "cas"}
        )
        table = LakeTable.load(root)
        barrier = threading.Barrier(2)
        waited: set[int] = set()

        def held_write(self):
            me = threading.get_ident()
            if me not in waited:  # only the first attempt waits
                waited.add(me)
                barrier.wait(timeout=30)
            real_write(self)

        monkeypatch.setattr(LakeTable, "_write_metadata", held_write)
        errors: list[BaseException] = []

        def setter(key: str) -> None:
            try:
                table.set_property(key, "v")
            except BaseException as e:  # noqa: BLE001 - reported below
                errors.append(e)

        threads = [
            threading.Thread(target=setter, args=(k,)) for k in ("a", "b")
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
        monkeypatch.setattr(LakeTable, "_write_metadata", real_write)
        assert not errors, (trial, errors)
        props = LakeTable.load(root).properties
        assert props.get("a") == "v" and props.get("b") == "v", (trial, props)
        assert table.properties == props, trial


@pytest.mark.parametrize("mode", ["flock", "cas"])
def test_threads_on_one_handle_stress(tmp_path, mode):
    """More committing threads than cores on one handle, with a short
    switch interval: every property each thread set lands, and the handle
    ends on the newest metadata."""
    import os
    import sys
    import threading

    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=2, properties={"commit.mode": mode}
    )
    table = LakeTable.load(root)
    n_threads, per_thread = 2 * (os.cpu_count() or 2), 5
    errors: list[BaseException] = []

    def setter(w: int) -> None:
        try:
            for i in range(per_thread):
                table.set_property(f"w{w}-{i}", "v")
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=setter, args=(w,))
            for w in range(n_threads)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    props = LakeTable.load(root).properties
    want = {f"w{w}-{i}" for w in range(n_threads) for i in range(per_thread)}
    assert want <= props.keys(), sorted(want - props.keys())
    assert table.properties == props


def test_cas_hint_is_floor_probe_finds_newest(tmp_path):
    """A regressed version hint (possible when two unlocked winners race
    the pointer swap) must not strand readers: load() probes forward."""
    import os

    root = str(tmp_path / "t")
    t = LakeTable.create(
        root, SCHEMA, num_buckets=2, properties={"commit.mode": "cas"}
    )
    t.commit_append({"0": ["data/a.parquet"]})
    t.commit_append({"0": ["data/b.parquet"]})
    with open(os.path.join(root, "version-hint.text"), "w") as f:
        f.write("1")  # simulate the losing writer's stale pointer
    fresh = LakeTable.load(root)
    assert len(fresh.current_snapshot.files["0"]) == 2
    # and a subsequent commit repairs the hint monotonically
    fresh.commit_append({"1": ["data/c.parquet"]})
    with open(os.path.join(root, "version-hint.text")) as f:
        assert int(f.read()) == fresh._meta["metadata_version"]


def test_cas_expire_deletes_after_commit_point(tmp_path):
    """Expiry in CAS mode: snapshots expire, orphan manifests are swept,
    state intact — all without a lock."""
    root = str(tmp_path / "t")
    t = LakeTable.create(
        root, SCHEMA, num_buckets=2, properties={"commit.mode": "cas"}
    )
    for i in range(5):
        t.commit_append({"0": [f"data/a{i}.parquet"]})
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted == 0  # append-only: every file still referenced
    final = LakeTable.load(root)
    assert len(final.current_snapshot.files["0"]) == 5


def _prop_setter(root: str, worker: int, n: int) -> None:
    table = LakeTable.load(root)
    for i in range(n):
        table.set_property(f"k{worker}", str(i))


def _evolver(root: str, worker: int, n: int) -> None:
    table = LakeTable.load(root)
    for i in range(n):
        table.add_columns(
            [T.StructField(f"c{worker}_{i}", T.LongType(), True)]
        )


def _reader(root: str, worker: int, n: int) -> None:
    for _ in range(n * 3):
        t = LakeTable.load(root)
        assert t.current_snapshot is not None
        _ = t.properties


@pytest.mark.parametrize("mode", ["flock", "cas"])
def test_mixed_workload_commit_stress(tmp_path, mode):
    """Appenders, property-setters, schema-evolvers and LOCK-FREE readers
    race on one table: no commit may be lost, no reader may crash on a
    half-published version (the reader leg is what caught the flock
    publish race — readers probe forward past the hint, so the version
    file must appear atomically with its content)."""
    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=4, properties={"commit.mode": mode}
    )
    n = 8
    ctx = mp.get_context("fork")
    procs = (
        [ctx.Process(target=_appender, args=(root, w, n)) for w in range(4)]
        + [ctx.Process(target=_prop_setter, args=(root, w, n)) for w in range(2)]
        + [ctx.Process(target=_evolver, args=(root, w, n)) for w in range(2)]
        + [ctx.Process(target=_reader, args=(root, w, n)) for w in range(3)]
    )
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    assert all(p.exitcode == 0 for p in procs)

    t = LakeTable.load(root)
    files = [f for fs in t.current_snapshot.files.values() for f in fs]
    assert len(files) == 4 * n and len(set(files)) == 4 * n
    for w in range(2):
        assert t.properties.get(f"k{w}") == str(n - 1)
    cols = {f.name for f in t.schema.fields}
    assert {f"c{w}_{i}" for w in range(2) for i in range(n)} <= cols


def _expirer(root: str, n: int) -> None:
    table = LakeTable.load(root)
    for _ in range(n):
        table._refresh()
        table.expire_snapshots(keep_last=3)


@pytest.mark.parametrize("mode", ["flock", "cas"])
def test_expiry_races_appends_and_readers(tmp_path, mode):
    """Snapshot expiry racing appenders and lock-free readers: the
    manifest-GC grace window (default 60 s) must keep just-orphaned
    sidecars alive long enough that a reader which resolved the previous
    metadata version an instant ago can still dereference them — with
    instant GC this crashed ~every run (FileNotFoundError on man-*)."""
    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=4, properties={"commit.mode": mode}
    )
    n = 10
    ctx = mp.get_context("fork")
    procs = (
        [ctx.Process(target=_appender, args=(root, w, n)) for w in range(4)]
        + [ctx.Process(target=_expirer, args=(root, n))]
        + [ctx.Process(target=_reader, args=(root, w, n)) for w in range(2)]
    )
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    assert all(p.exitcode == 0 for p in procs)
    t = LakeTable.load(root)
    files = [f for fs in t.current_snapshot.files.values() for f in fs]
    assert len(files) == 4 * n and len(set(files)) == 4 * n


def _compactor(root: str, n: int) -> None:
    table = LakeTable.load(root)
    for i in range(n):
        table._refresh()
        expected = dict(table.current_snapshot.files)
        table.commit_overwrite(
            {"0": [f"data/compact-{i}.parquet"]}, buckets=[0],
            expected=expected,
        )


@pytest.mark.parametrize("mode", ["flock", "cas"])
def test_overwrite_races_appends_and_readers(tmp_path, mode):
    """Version-checked compaction overwrites racing appenders and
    lock-free readers: appends to untouched buckets must survive
    verbatim; bucket-0 appends either survive as deltas (landed after the
    compactor's scan capture) or were absorbed by an overwrite whose
    expected-set included them; nobody crashes."""
    root = str(tmp_path / "t")
    LakeTable.create(
        root, SCHEMA, num_buckets=4, properties={"commit.mode": mode}
    )
    n = 8
    ctx = mp.get_context("fork")
    procs = (
        [ctx.Process(target=_appender, args=(root, w, n)) for w in range(4)]
        + [ctx.Process(target=_compactor, args=(root, n))]
        + [ctx.Process(target=_reader, args=(root, w, n)) for w in range(2)]
    )
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    assert all(p.exitcode == 0 for p in procs)
    t = LakeTable.load(root)
    files = [f for fs in t.current_snapshot.files.values() for f in fs]
    for w in range(4):
        if w % 4 == 0:
            continue
        for i in range(n):
            assert f"data/w{w}-{i}.parquet" in files
    assert any(
        f.startswith("data/compact-")
        for f in t.current_snapshot.files.get("0", [])
    )
