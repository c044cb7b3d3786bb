"""The two CDC workloads, driven through the engine's public API only.

``backfill``: ``replay_bulk`` of a seeded multi-file change stream into
fresh bucketed tables, then one ``read_current`` count and a fixed seeded
sequence of ``point_lookup`` calls against the large uncompacted table.

``tail``: one ``replay_epochs`` call per small epoch with the pipeline's
default inline threshold compaction, each followed by one ``point_lookup``;
an additive schema evolution lands mid-stream; one ``read_current`` count
at the end.

Every run generates its input from the seed, warms up at full size on a
throwaway table, measures, and then checks the final state against
``oracle.reduce_events`` outside every timed window.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import stats as S

#: workload shapes; see BENCHMARK.md for how they were sized
BACKFILL = {
    # ~630k events with the duplicates: per-row work is a little under
    # half of a replay_bulk call (1.5-2 s on 4 vCPUs), the fixed
    # per-call part the rest (see BENCHMARK.md, "Backfill size")
    "n_events": 600_000,
    "n_convs": 20_000,
    "events_per_epoch": 60_000,
    "files_per_epoch": 4,
    "buckets": 32,
    # replay calls per run, each into a fresh table: one call varies by
    # about +-10% from call to call, so the rate is taken over two
    "replays": 2,
    "lookups": 20,
    "warm_lookups": 1,
}
TAIL = {
    "n_convs": 20_000,
    "events_per_epoch": 5_000,
    # at local[N] with N >= 4 each file of an epoch is one Spark partition,
    # so each epoch adds 4 files per bucket whatever N is, and the 17th
    # epoch crosses the default 64-file compaction threshold
    "files_per_epoch": 4,
    "buckets": 4,
    # epochs of input generated beyond one worst-case cycle, in case a
    # change lengthens the cycle; the measured replay stops after the
    # first compacting epoch
    "spare_epochs": 7,
    # a lookup follows every epoch except each third one (run budget)
    "lookup_skip": 3,
    "warm_epochs": 1,
    "evolve_epoch": 8,
}

#: one lookup key in this many is the hot conversation (it carries ~30% of
#: the writes); its lookups take 2-3x as long as the others, and at one in
#: four the p90 falls inside their mode rather than on its edge
HOT_EVERY = 4

#: samples a run's p90 keeps beyond it (see BENCHMARK.md, "Sample sizes")
RUN_MIN_BEYOND = 1


@dataclass
class Run:
    """State of one benchmark run: session, work dir and op counters."""

    spark: object
    work: str
    seed: int
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    gen_s: float = 0.0
    digest: str = ""
    #: seconds per operation name, for the stderr run log
    op_s: dict = field(default_factory=dict)
    #: set for the traced run: each timed call becomes a root span
    tracer: object = None
    #: traced run only: ``inputFiles()`` counts of lookups and the scan
    lookup_files: list = field(default_factory=list)
    scan_files: int = 0

    def timed(self, fn, *a, **kw):
        """Call ``fn`` once as a counted operation; returns (result, s)."""
        name = fn.__name__
        self.attempted += 1
        with self.tracer.span(name) if self.tracer else nullcontext():
            t = time.perf_counter()
            out = fn(*a, **kw)
            s = time.perf_counter() - t
        self.op_s[name] = self.op_s.get(name, 0.0) + s
        return out, s

    def count_lookup_files(self, table, key) -> None:
        from etl_documentos_spark.operators.merge import point_lookup

        if self.tracer:
            self.lookup_files.append(
                len(point_lookup(self.spark, table, key).inputFiles())
            )

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def fresh(self, name: str, buckets: int, schema):
        """A new empty table plus pipeline under the work dir."""
        from etl_documentos_spark.lake.table import LakeTable
        from etl_documentos_spark.operators.merge import physical_schema
        from etl_documentos_spark.streaming.apply import CdcPipeline

        root = os.path.join(self.work, name)
        LakeTable.create(
            os.path.join(root, "table"), physical_schema(schema),
            num_buckets=buckets,
        )
        return CdcPipeline(
            self.spark, os.path.join(root, "table"), os.path.join(root, "wd")
        )


# ------------------------------------------------------------------ input
def generate(run: Run, shape: dict, n_events: int, evolve_from_lsn=None) -> str:
    """Seeded ``datagen.change_stream`` written in ``datagen.write_epochs``'
    layout, plus a content digest; both outside every timed window.

    Each ``epoch=<k>/part-<f>.parquet`` file holds the rows
    ``write_epochs`` would put in it (the same ``pmod(xxhash64(lsn),
    files_per_epoch)`` salt), in lsn order. The files are written here with
    pyarrow because ``write_epochs``' shuffle and partitioned Spark write
    cost about 6-9 s more per run (see BENCHMARK.md), which the run budget
    does not absorb."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_documentos_spark import datagen

    t = time.perf_counter()
    path = os.path.join(run.work, "input")
    files = shape["files_per_epoch"]
    rows = datagen.change_stream(
        run.spark,
        n_events=n_events,
        n_convs=shape["n_convs"],
        events_per_epoch=shape["events_per_epoch"],
        seed=run.seed,
        evolve_from_lsn=evolve_from_lsn,
    ).withColumn("_file", F.pmod(F.xxhash64("lsn"), F.lit(files))).toArrow()
    rows = rows.sort_by([("epoch", "ascending"), ("lsn", "ascending"),
                         ("op", "ascending")])
    salt = rows.column("_file")
    rows = rows.drop_columns(["_file"])
    epoch = rows.column("epoch").to_numpy()
    for e in np.unique(epoch):
        lo, hi = np.searchsorted(epoch, [e, e + 1])
        part = rows.slice(lo, hi - lo).drop_columns(["epoch"])
        part_salt = salt.slice(lo, hi - lo)
        d = os.path.join(path, f"epoch={e}")
        os.makedirs(d)
        for f in range(files):
            pq.write_table(
                part.filter(pc.equal(part_salt, f)),
                os.path.join(d, f"part-{f:05d}.parquet"),
            )
    run.digest = content_digest(path)
    run.gen_s = time.perf_counter() - t
    return path


def input_dataset(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive")


def content_digest(path: str) -> str:
    """sha256 over the generated files' names and bytes."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "epoch=*", "*.parquet"))):
        h.update(os.path.relpath(f, path).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def lookup_keys(seed: int, n: int, n_convs: int) -> list[str]:
    """Fixed seeded key sequence; every ``HOT_EVERY``-th key is the hot
    conversation."""
    r = random.Random(seed * 7919 + 1)
    return [
        "conv_hot" if i % HOT_EVERY == 0 else f"conv_{r.randrange(n_convs)}"
        for i in range(n)
    ]


def pct(run: Run, values: list[float], q: float) -> float:
    """``stats.percentile`` at ``RUN_MIN_BEYOND``; a percentile the sample
    cannot support fails the run (``correct`` false) and reports the
    sample's maximum instead of crashing it."""
    try:
        return S.percentile(values, q, RUN_MIN_BEYOND)
    except S.UnsupportedPercentile as e:
        run.check(False, str(e))
        return max(values, default=0.0)


# ------------------------------------------------------------------- gate
def _plain(tbl):
    """Rows of an Arrow table as dicts, timestamps as int64 micros."""
    import pyarrow as pa

    for i, f in enumerate(tbl.schema):
        if pa.types.is_timestamp(f.type):
            col = tbl.column(i).cast(pa.timestamp("us", tz=f.type.tz))
            tbl = tbl.set_column(i, f.name, col.cast(pa.int64()))
    return tbl.to_pylist()


def _rows(dicts, cols) -> list[tuple]:
    return sorted(tuple(d.get(c) for c in cols) for d in dicts)


def gate(run: Run, pipeline, input_path: str, epochs: list[int],
         keys: list[str] | None, got=None) -> None:
    """Correctness gate, outside the timed windows: final state equals the
    oracle (over ``keys`` only when given), one commit record per epoch,
    lineage ``events_read`` total equals the input events. ``got`` (an
    Arrow table of ``keys``' rows as the run already read them) stands in
    for a ``read_current`` of those keys."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from etl_documentos_spark import oracle
    from etl_documentos_spark.operators.merge import read_current
    from etl_documentos_spark.streaming.lineage import read_lineage

    events = input_dataset(input_path).to_table(
        filter=pc.field("epoch").isin(epochs)
    )
    n_input = events.num_rows
    if keys is not None:
        events = events.filter(pc.field("conv_id").isin(keys))
    want = oracle.reduce_events(_plain(events))
    table = pipeline.table
    cols = [f.name for f in table.schema.fields if not f.name.startswith("_")]
    if got is None:
        got_df = read_current(run.spark, table)
        if keys is not None:
            got_df = got_df.filter(F.col("conv_id").isin(keys))
        got = got_df.toArrow()
    got = _plain(got)
    run.check(_rows(got, cols) == _rows(want, cols),
              f"state != oracle ({len(got)} vs {len(want)} rows)")

    log = pipeline.commitlog
    records = [
        f for f in os.listdir(log.root)
        if f.startswith("commit-") and f.endswith(".json")
    ]
    run.check(
        all(log.get(e) is not None for e in epochs) and len(records) == len(epochs),
        f"{len(records)} commit records for {len(epochs)} epochs",
    )
    read = read_lineage(run.spark, pipeline.lineage_path).agg(
        F.sum("events_read")
    ).first()[0]
    run.check(int(read or 0) == n_input,
              f"lineage events_read {read} != input {n_input}")


# --------------------------------------------------------------- measures
def table_mb(table) -> float:
    snap = table.current_snapshot
    return sum(
        os.path.getsize(os.path.join(table.root, p))
        for fs in snap.files.values()
        for p in fs
    ) / 1e6


def lookup(spark, table, key) -> list:
    """One closed-loop point lookup: ``point_lookup(...).collect()``."""
    from etl_documentos_spark.operators.merge import point_lookup

    return point_lookup(spark, table, key).collect()


def scan_count(spark, table) -> int:
    from etl_documentos_spark.operators.merge import read_current

    return read_current(spark, table).count()


def lookups(run: Run, table, keys: list[str]) -> tuple[list[float], dict]:
    """Seconds of each lookup, and the rows each key returned."""
    secs, rows = [], {}
    for k in keys:
        rows[k], s = run.timed(lookup, run.spark, table, k)
        secs.append(s)
        run.count_lookup_files(table, k)
    return secs, rows


def scan(run: Run, table) -> float:
    from etl_documentos_spark.operators.merge import read_current

    s = run.timed(scan_count, run.spark, table)[1]
    if run.tracer:
        run.scan_files = len(read_current(run.spark, table).inputFiles())
    return s


def commit_latency_ms(pipeline, epochs: list[int], start: float) -> list[float]:
    """Per epoch of one bulk call: time from the call's start (wall clock)
    to the epoch's commit record, i.e. when that epoch became durable. The
    records land a few ms apart at the end of the call, so on ``backfill``
    these latencies track the call's duration."""
    return [
        (pipeline.commitlog.get(e).committed_at - start) * 1e3 for e in epochs
    ]


# --------------------------------------------------------------- backfill
def backfill_prepare(run: Run) -> dict:
    shape = BACKFILL
    path = generate(run, shape, shape["n_events"])
    from etl_documentos_spark.streaming.stream import list_epochs

    return {"path": path, "epochs": list_epochs(path)}


def backfill_replay(run: Run, ctx: dict, name: str) -> dict:
    """One ``replay_bulk`` of the whole input into a fresh table."""
    from etl_documentos_spark.schemas import CHANGE_EVENTS, TRANSCRIPTS
    from etl_documentos_spark.streaming.stream import replay_bulk

    p = run.fresh(name, BACKFILL["buckets"], TRANSCRIPTS)
    start = time.time()
    res, replay_s = run.timed(replay_bulk, p, ctx["path"], schema=CHANGE_EVENTS)
    return {
        "pipeline": p,
        "events": sum(r.events for r in res),
        "replay_s": replay_s,
        "commit_ms": commit_latency_ms(p, ctx["epochs"], start),
    }


def backfill_reads(run: Run, table, n_lookups: int) -> dict:
    """One scan, the lookup sequence, then a compaction of the hot
    conversation's bucket, on a freshly backfilled table."""
    from etl_documentos_spark.operators.merge import bucket_of, compact

    out = {"scan_s": scan(run, table)}
    out["lookup_s"], out["lookup_rows"] = lookups(
        run, table, lookup_keys(run.seed, n_lookups, BACKFILL["n_convs"])
    )
    out["table_mb"] = table_mb(table)
    hot = bucket_of(run.spark, table, "conv_hot")
    _, out["compact_s"] = run.timed(compact, run.spark, table, buckets=[hot])
    return out


def backfill_warmup(run: Run, ctx: dict) -> None:
    w = backfill_replay(run, ctx, "warm")
    backfill_reads(run, w["pipeline"].table, BACKFILL["warm_lookups"])


def backfill_measure(run: Run, ctx: dict) -> dict:
    """The timed replays, then the reads on the last table; returns the
    end-to-end metrics (values only)."""
    reps = [backfill_replay(run, ctx, f"replay{i}")
            for i in range(BACKFILL["replays"])]
    ctx["pipeline"] = reps[-1]["pipeline"]
    m = backfill_reads(run, ctx["pipeline"].table, BACKFILL["lookups"])
    ctx["lookup_rows"] = m["lookup_rows"]
    commits = [c for r in reps for c in r["commit_ms"]]
    n_ep = len(ctx["epochs"])
    return {
        "events_per_s": sum(r["events"] for r in reps)
        / sum(r["replay_s"] for r in reps),
        "epoch_commit_p50_ms": pct(run, commits, 0.5),
        "epoch_commit_p90_ms": pct(run, commits, 0.9),
        "compaction_stall_ms_per_epoch": m["compact_s"] * 1e3 / n_ep,
        "lookup_p50_ms": pct(run, m["lookup_s"], 0.5) * 1e3,
        "lookup_p90_ms": pct(run, m["lookup_s"], 0.9) * 1e3,
        "scan_current_s": m["scan_s"],
        "table_mb": m["table_mb"],
        "_samples": {"replays": len(reps), "epoch_commits": len(commits),
                     "lookups": len(m["lookup_s"]), "epochs": n_ep},
    }


def backfill_gate(run: Run, ctx: dict) -> None:
    """The gate's key subset is the lookup sequence's keys (``conv_hot``
    among them); their state is the rows the timed lookups returned."""
    import pyarrow as pa

    rows = ctx["lookup_rows"]
    got = pa.Table.from_pylist([r.asDict() for rs in rows.values() for r in rs])
    gate(run, ctx["pipeline"], ctx["path"], ctx["epochs"], list(rows), got)


# ------------------------------------------------------------------- tail
def tail_max_epochs(cpus: int) -> int:
    """Epochs of input for one whole compaction cycle at ``local[cpus]``,
    plus ``spare_epochs``. Below ``files_per_epoch`` CPUs Spark packs an
    epoch's small files into fewer partitions, so only one file per bucket
    per epoch is assumed there."""
    import inspect

    from etl_documentos_spark.streaming.apply import CdcPipeline

    files = TAIL["files_per_epoch"]
    per_epoch = files if cpus >= files else 1
    threshold = inspect.signature(CdcPipeline).parameters["compact_at_files"].default
    return -(-(threshold + 1) // per_epoch) + TAIL["spare_epochs"]


def tail_prepare(run: Run) -> dict:
    shape = TAIL
    n_epochs = tail_max_epochs(run.spark.sparkContext.defaultParallelism)
    path = generate(
        run, shape, n_epochs * shape["events_per_epoch"],
        evolve_from_lsn=shape["evolve_epoch"] * shape["events_per_epoch"],
    )
    return {
        "path": path,
        "epochs": list(range(n_epochs)),
        "keys": lookup_keys(run.seed, n_epochs, shape["n_convs"]),
    }


def tail_epochs(run: Run, ctx: dict, p, epochs: list[int],
                until_compaction: bool = False) -> list[dict]:
    """Epoch-at-a-time replay, each epoch followed by one lookup; the epoch
    kind comes from the snapshots before and after the call. With
    ``until_compaction`` the replay ends after the first compacting epoch,
    so the epochs applied form one whole compaction cycle."""
    from etl_documentos_spark.schemas import CHANGE_EVENTS, CHANGE_EVENTS_V2
    from etl_documentos_spark.streaming.stream import replay_epochs

    out = []
    before = p.table.snapshots
    for e in epochs:
        schema = CHANGE_EVENTS if e < TAIL["evolve_epoch"] else CHANGE_EVENTS_V2
        if run.tracer:
            run.tracer.epoch = e
        res, s = run.timed(replay_epochs, p, ctx["path"], epochs=[e], schema=schema)
        table = p.table
        after = table.snapshots
        rec = {"epoch": e, "s": s, "events": sum(r.events for r in res),
               "kind": S.classify_epoch(before, after)}
        if e % TAIL["lookup_skip"] != TAIL["lookup_skip"] - 1:
            _, rec["lookup_s"] = run.timed(lookup, run.spark, table, ctx["keys"][e])
            run.count_lookup_files(table, ctx["keys"][e])
        out.append(rec)
        before = after
        if until_compaction and out[-1]["kind"] != S.PLAIN:
            break
    return out


def tail_warmup(run: Run, ctx: dict) -> None:
    """The first epochs with their lookups, a full compaction and a scan,
    on a throwaway table. A whole threshold cycle would cost half the run
    budget; ``compact`` is the function the inline threshold compaction
    calls."""
    from etl_documentos_spark.operators.merge import compact
    from etl_documentos_spark.schemas import TRANSCRIPTS

    p = run.fresh("warm", TAIL["buckets"], TRANSCRIPTS)
    tail_epochs(run, ctx, p, list(range(TAIL["warm_epochs"])))
    run.timed(compact, run.spark, p.table)
    scan(run, p.table)


def tail_measure(run: Run, ctx: dict) -> dict:
    from etl_documentos_spark.schemas import TRANSCRIPTS

    p = run.fresh("tail", TAIL["buckets"], TRANSCRIPTS)
    ctx["pipeline"] = p
    eps = tail_epochs(run, ctx, p, ctx["epochs"], until_compaction=True)
    run.check(eps[-1]["kind"] != S.PLAIN,
              f"no compaction within {len(eps)} epochs of input")
    ctx["measured"] = eps
    ctx["epochs"] = [e["epoch"] for e in eps]
    table = p.table
    # a scan of the small tail table takes about half a second: report the
    # median of five (a median of three spread 0.29 over five runs)
    scan_s = S.percentile([scan(run, table) for _ in range(5)], 0.5, 0)
    plain = [e["s"] for e in eps if e["kind"] == S.PLAIN]
    p50 = pct(run, plain, 0.5)
    stall = sum(e["s"] - p50 for e in eps if e["kind"] != S.PLAIN)
    lk = [e["lookup_s"] for e in eps if "lookup_s" in e]
    kinds = {k: sum(e["kind"] == k for e in eps) for k in (S.PLAIN, S.PARTIAL, S.FULL)}
    return {
        "events_per_s": sum(e["events"] for e in eps) / sum(e["s"] for e in eps),
        "epoch_commit_p50_ms": p50 * 1e3,
        "epoch_commit_p90_ms": pct(run, plain, 0.9) * 1e3,
        "compaction_stall_ms_per_epoch": stall * 1e3 / len(eps),
        "lookup_p50_ms": pct(run, lk, 0.5) * 1e3,
        "lookup_p90_ms": pct(run, lk, 0.9) * 1e3,
        "scan_current_s": scan_s,
        "table_mb": table_mb(table),
        "_samples": {"epochs": len(eps), "lookups": len(lk), **kinds},
    }


def tail_gate(run: Run, ctx: dict) -> None:
    gate(run, ctx["pipeline"], ctx["path"], ctx["epochs"], None)


WORKLOADS = {
    "backfill": (backfill_prepare, backfill_warmup, backfill_measure, backfill_gate),
    "tail": (tail_prepare, tail_warmup, tail_measure, tail_gate),
}
