"""Per-layer metrics of the traced run (``--trace 1``).

Driver-side layers come from the spans ``tracing.install`` records around
the measured phase. The writer tasks of the bulk path run in Spark's Python
workers, out of reach of driver-side wrappers, so the fingerprint hash, key
hash, bucket and parquet decode rates are timed here on one thread over the
workload's own input files; they double as the one-core baseline.
"""

from __future__ import annotations

import os
import time

import stats as S
import tracing

#: rows the single-thread kernel timing reads from the workload's input
KERNEL_ROWS = 50_000


def kernel_rates(input_path: str, num_buckets: int) -> dict:
    """ns/row of parquet decode, ``xxh64_chain`` (row fingerprint),
    ``xxh64_strings`` (key hash) and ``spark_bucket`` on one thread, over
    the same files and batch size the bulk writer tasks use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_documentos_spark.functions.xxh64 import (
        spark_bucket,
        xxh64_chain,
        xxh64_strings,
    )
    from etl_documentos_spark.schemas import CHANGE_EVENTS

    declared = [f.name for f in CHANGE_EVENTS.fields]
    threads = pa.cpu_count()
    pa.set_cpu_count(1)
    t = {"decode": 0.0, "chain": 0.0, "strings": 0.0, "bucket": 0.0}
    rows = 0
    try:
        files = sorted(
            os.path.join(root, f)
            for root, _, fs in os.walk(input_path)
            for f in fs
            if f.endswith(".parquet")
        )
        for path in files:
            if rows >= KERNEL_ROWS:
                break
            t0 = time.perf_counter()
            pf = pq.ParquetFile(path)
            batches = list(pf.iter_batches(batch_size=1 << 16, use_threads=False))
            t["decode"] += time.perf_counter() - t0
            cols = [c for c in declared if c in pf.schema_arrow.names]
            for rb in batches:
                tbl = pa.Table.from_batches([rb])
                key = tbl.column("conv_id").combine_chunks()
                t0 = time.perf_counter()
                xxh64_chain(tbl, cols)
                t1 = time.perf_counter()
                xxh64_strings(key)
                t2 = time.perf_counter()
                spark_bucket(key, num_buckets)
                t3 = time.perf_counter()
                t["chain"] += t1 - t0
                t["strings"] += t2 - t1
                t["bucket"] += t3 - t2
                rows += tbl.num_rows
    finally:
        pa.set_cpu_count(threads)
    per = 1e9 / max(rows, 1)
    return {
        "decode.ns_per_row": (t["decode"] * per, "ns/row"),
        "xxh64.chain_ns_per_row": (t["chain"] * per, "ns/row"),
        "xxh64.strings_ns_per_row": (t["strings"] * per, "ns/row"),
        "xxh64.spark_bucket_ns_per_row": (t["bucket"] * per, "ns/row"),
    }


def span_cost_s(calls: int = 20_000) -> float:
    """Seconds one spanning wrapper adds to a call (calibrated on a no-op)."""
    tr = tracing.Tracer()

    def noop():
        return None

    wrapped = tr.wrapped(noop, "noop")
    t0 = time.perf_counter()
    for _ in range(calls):
        noop()
    t1 = time.perf_counter()
    with tr.span("root"):
        for _ in range(calls):
            wrapped()
    t2 = time.perf_counter()
    return max(0.0, ((t2 - t1) - (t1 - t0)) / calls)


def _sum(spans) -> float:
    return sum(s.dur for s in spans)


def _mean_ms(spans) -> float:
    return _sum(spans) * 1e3 / len(spans) if spans else 0.0


def summarize(tr: tracing.Tracer, run, ctx: dict, workload: str) -> dict:
    """Per-layer metrics as ``{name: (value, unit)}``."""
    root = "replay_bulk" if workload == "backfill" else "replay_epochs"
    replays = tr.of(root)
    inside = tr.within(root)
    if workload == "backfill":
        n_epochs = len(ctx["epochs"]) * len(replays)
    else:
        n_epochs = len(replays)
    per_epoch = 1.0 / max(n_epochs, 1)

    def layer(name):
        return [s for s in inside if s.name == name]

    table = ctx["pipeline"].table
    snap = table.current_snapshot
    compacts = layer("compact")
    writes = layer("table.commit_append") + layer("table.commit_overwrite")
    replay_s = _sum(replays)
    root_self = sum(s.self_s for s in replays)
    n_spans = len(tr.spans)
    out = {
        "apply.self_ms": (sum(s.self_s for s in layer("apply")) * 1e3 * per_epoch, "ms"),
        "table.load_calls_per_epoch": (len(layer("table.load")) * per_epoch, "count"),
        "table.load_ms_per_epoch": (_sum(layer("table.load")) * 1e3 * per_epoch, "ms"),
        "table.snapshots_end": (len(table.snapshots), "count"),
        "evolve.ms_per_epoch": (_sum(layer("evolve")) * 1e3 * per_epoch, "ms"),
        "table.write_data_files_direct_ms": (
            _sum(layer("table.write_data_files_direct")) * 1e3 * per_epoch, "ms"),
        "table.commit_append_ms": (
            _sum(layer("table.commit_append")) * 1e3 * per_epoch, "ms"),
        "table.write_change_files_direct_s": (
            _sum(layer("table.write_change_files_direct")) / max(len(replays), 1), "s"),
        "table.files_written": (sum(s.args.get("files", 0) for s in writes), "count"),
        "table.files_per_bucket_max_end": (
            max((len(fs) for fs in snap.files.values()), default=0), "count"),
        "commitlog.is_committed_ms": (_mean_ms(layer("commitlog.is_committed")), "ms"),
        "commitlog.commit_ms": (_mean_ms(layer("commitlog.commit")), "ms"),
        "commitlog.compact_log_ms": (_mean_ms(layer("commitlog.compact_log")), "ms"),
        "lineage.append_ms_per_epoch": (_sum(layer("lineage")) * 1e3 * per_epoch, "ms"),
        "merge.compactions": (len(compacts), "count"),
        "merge.buckets_compacted": (
            sum(s.args.get("buckets") or 0 for s in compacts), "count"),
        "merge.compact_s_total": (_sum(compacts), "s"),
        "merge.bucket_of_ms": (_mean_ms(tr.of("merge.bucket_of", "lookup")), "ms"),
        "merge.lookup_files": (
            sum(run.lookup_files) / max(len(run.lookup_files), 1), "count"),
        "merge.scan_files": (run.scan_files, "count"),
        "trace.replay_s": (replay_s, "s"),
        "trace.layers_self_s": (replay_s - root_self, "s"),
        "trace.unexplained_s": (root_self, "s"),
        "trace.overhead_pct": (
            100 * n_spans * span_cost_s() / max(_sum(tr.of(root) + tr.of("lookup")
                                                     + tr.of("scan_count")), 1e-9),
            "%"),
    }
    kinds = [e["kind"] for e in ctx.get("measured", [])]
    by_kind = dict(zip((e["epoch"] for e in ctx.get("measured", [])), kinds))
    applies = layer("apply")
    compacting = sum(
        s.dur for s in applies if by_kind.get(s.epoch, S.PLAIN) != S.PLAIN
    )
    apply_s = _sum(applies)
    out["merge.compacting_share"] = (compacting / apply_s if apply_s else 0.0, "frac")
    out["epochs.plain"] = (sum(k == S.PLAIN for k in kinds), "count")
    out["epochs.compacting"] = (sum(k != S.PLAIN for k in kinds), "count")
    out.update(kernel_rates(ctx["path"], table.num_buckets))
    return out
