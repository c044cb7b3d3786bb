"""Replay drivers: batch epoch replay and the Structured Streaming tail.

Batch replay walks ``{path}/epoch={k}`` directories in log order through
the exactly-once `CdcPipeline`: ``replay_epochs`` one epoch per apply (the
tail), ``replay_bulk`` all in one (the backfill). Every route ends in the
pipeline's one apply core and its one change-batch kernel; they differ in
how the kernel is fed:

- local path (``replay_bulk``; ``replay_epochs`` in every pipeline mode,
  quarantine included): ``apply_epochs_bulk_files`` and the file feeder
  (``write_change_files_direct``), which reads the epoch files with
  pyarrow — in the driver when they total at most one Spark file-open
  cost, as a tail epoch does, else in Spark tasks; no row crosses the
  JVM→Python Arrow socket;
- ``replay_epochs`` on a ``://`` path: ``apply_epoch`` on the epoch read
  as a DataFrame (the ``mapInArrow`` feeder, ``write_data_files_direct``)
  — a remote path has no local listing;
- ``replay_bulk`` on a ``://`` path: ``apply_epochs_bulk``, the DataFrame
  feeder over all epochs at once;
- ``replay_source`` and the streaming tail: ``apply_epoch``.

The streaming driver (``start_stream`` / ``run_stream_until_drained``) is the
production shape: a Structured Streaming file source tails the change
directory (stand-in for a Kafka/binlog source — same micro-batch contract),
checkpointed offsets make batch composition deterministic across restarts,
and ``foreachBatch`` routes every micro-batch through the same
commit-log-guarded ``apply_epoch``. Restart after a crash replays the last
un-checkpointed batch; the commit-log + version-checked merge make that
replay a no-op. Reference analogue of the source: one HTTP upload per
document (``/root/reference/app/api/routes.py:133-179``) — here the uploads
are already a WAL tail.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from etl_documentos_spark.schemas import CHANGE_EVENTS
from etl_documentos_spark.streaming.apply import CdcPipeline, EpochResult


def list_epochs(path: str) -> list[int]:
    out = []
    for entry in os.listdir(path):
        m = re.fullmatch(r"epoch=(\d+)", entry)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def epoch_files(
    events_path: str, epochs: list[int]
) -> list[tuple[str, int, int]]:
    """(path, epoch, bytes) of every parquet file under each local
    ``epoch=N`` directory, in name order. Spark reader semantics: leading
    '.'/'_' names are hidden (in-progress writers, committer artifacts) —
    reading one would corrupt the epoch fingerprint. A missing directory
    raises ``FileNotFoundError``."""
    out = []
    for e in epochs:
        d = os.path.join(events_path, f"epoch={e}")
        for entry in sorted(os.scandir(d), key=lambda x: x.name):
            if entry.name.endswith(".parquet") and not entry.name.startswith(
                (".", "_")
            ):
                out.append((entry.path, e, entry.stat().st_size))
    return out


def _file_schema(schema: T.StructType | None) -> T.StructType | None:
    """DataFrame-path callers declare the hive partition column too; the
    file route derives ``epoch`` from the directory name instead."""
    if schema is None or "epoch" not in schema.fieldNames():
        return schema
    return T.StructType([f for f in schema.fields if f.name != "epoch"])


def replay_epochs(
    pipeline: CdcPipeline,
    events_path: str,
    epochs: list[int] | None = None,
    schema: T.StructType | None = None,
    concurrency: int = 1,
) -> list[EpochResult]:
    """Apply each epoch directory through the exactly-once path.

    Each local epoch applies with ``apply_epochs_bulk_files`` (the
    zero-IPC file feeder of ``replay_bulk``); a ``://`` path reads it as a
    DataFrame into ``apply_epoch``. Both commit the same fingerprint.

    ``concurrency > 1`` (MOR mode only) overlaps epoch applies in driver
    threads: the LWW reduction is order-insensitive, so epochs need no
    ordering barrier — each thread stages its epoch's data files (in the
    driver for a small epoch, else as a write job on the executors) while
    metadata commits serialize on the pipeline's commit lock. This hides
    per-epoch driver-serial time (job scheduling, snapshot fsync) behind
    other epochs' writes; exactly-once bookkeeping is unchanged (one commit
    record per epoch).
    """
    spark = pipeline.spark
    epoch_ids = epochs if epochs is not None else list_epochs(events_path)
    files: dict[int, list[tuple[str, int]]] = {e: [] for e in epoch_ids}
    sizes = dict.fromkeys(epoch_ids, 0)
    local = "://" not in events_path
    if local:
        for f, e, n in epoch_files(events_path, list(files)):
            files[e].append((f, e))
            sizes[e] += n

    # Byte-proportional writer-task allocation across the in-flight window:
    # overlapped epochs split the cores in proportion to their input size,
    # so a small epoch doesn't hold as many writer slots as a 2x-larger one
    # (the tail of the big epoch would otherwise run on a fraction of the
    # cluster while the small epoch's tasks are long gone). Mild overcommit
    # (1.2x cores across the window) keeps every core fed through task-end
    # skew. Epoch byte sizes come from the source listing — a binlog/Kafka
    # source exposes the same per-batch size metadata.
    p = spark.sparkContext.defaultParallelism
    window = max(1, min(concurrency, len(epoch_ids)))
    avg = max(1, sum(sizes.values()) // max(1, len(sizes)))

    def tasks_for(ep: int) -> int:
        share = 1.2 * p * (sizes[ep] or avg) / (avg * window)
        return max(2, min(2 * p, round(share)))

    def one(ep: int) -> EpochResult:
        if local:
            return pipeline.apply_epochs_bulk_files(
                files[ep], schema=_file_schema(schema), epochs=[ep],
                target_tasks=tasks_for(ep),
            )[0]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        changes = reader.parquet(os.path.join(events_path, f"epoch={ep}"))
        return pipeline.apply_epoch(changes, ep, write_tasks=tasks_for(ep))

    if concurrency <= 1:
        return [one(ep) for ep in epoch_ids]
    assert pipeline.mode == "mor", "concurrent replay requires merge-on-read"
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        return list(pool.map(one, epoch_ids))


class SyntheticChangeSource:
    """Offset-addressed synthetic change source — the rate/Kafka shape.

    The WAL here is the integer lsn range ``[0, n_events)``; epoch ``k``
    is exactly the offset slice ``[k*B, (k+1)*B)``. Events derive from the
    lsn by pure column arithmetic (`datagen.change_stream` with
    ``lsn_range``), so any reader at any parallelism regenerates
    byte-identical batches from the offsets alone — no storage, no file
    listing. This is the same checkpointed-offset contract the file source
    satisfies (epoch id -> deterministic batch), proving the pipeline's
    epoch/offset abstraction is not file-format-bound: `CdcPipeline`
    fingerprints agree across sources, so an epoch committed from one
    source is a replay no-op from the other.
    """

    def __init__(
        self,
        spark: SparkSession,
        n_events: int,
        events_per_epoch: int = 1000,
        **gen_kwargs,
    ):
        from etl_documentos_spark import datagen

        self.spark = spark
        self.n_events = n_events
        self.events_per_epoch = events_per_epoch
        self.gen_kwargs = gen_kwargs
        self._gen = datagen.change_stream

    def epochs(self) -> list[int]:
        b = self.events_per_epoch
        return list(range((self.n_events + b - 1) // b))

    def read_epoch(self, epoch_id: int):
        b = self.events_per_epoch
        lo, hi = epoch_id * b, min((epoch_id + 1) * b, self.n_events)
        if lo >= hi:
            raise IndexError(f"epoch {epoch_id} past the log end")
        return self._gen(
            self.spark,
            self.n_events,
            events_per_epoch=b,
            lsn_range=(lo, hi),
            **self.gen_kwargs,
        ).drop("epoch")


def replay_source(
    pipeline: CdcPipeline,
    source,
    epochs: list[int] | None = None,
    concurrency: int = 1,
) -> list[EpochResult]:
    """Apply epochs from any offset-addressed source object
    (``.epochs() -> list[int]`` + ``.read_epoch(k) -> DataFrame``) through
    the same exactly-once path as the file replay. Writer tasks split the
    cluster evenly across the in-flight window (a synthetic source has no
    byte sizes to weight by; epochs are uniform by construction)."""
    epoch_ids = epochs if epochs is not None else source.epochs()
    p = pipeline.spark.sparkContext.defaultParallelism
    window = max(1, min(concurrency, len(epoch_ids)))
    tasks = max(2, min(2 * p, round(1.2 * p / window)))

    def one(ep: int) -> EpochResult:
        return pipeline.apply_epoch(source.read_epoch(ep), ep, write_tasks=tasks)

    if concurrency <= 1:
        return [one(ep) for ep in epoch_ids]
    assert pipeline.mode == "mor", "concurrent replay requires merge-on-read"
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        return list(pool.map(one, epoch_ids))


def replay_bulk(
    pipeline: CdcPipeline,
    events_path: str,
    schema: T.StructType | None = None,
    epochs: list[int] | None = None,
) -> list[EpochResult]:
    """Backfill replay: all epochs (or an explicit subset — e.g. one
    executor process's shard of a partitioned backfill) in one super-batch.
    Per-epoch exactly-once records are preserved; the per-epoch driver
    overhead is paid once.

    Local paths route through the zero-IPC file feeder (see the module
    docstring); ``epoch`` comes from each file's directory name."""
    if epochs is None:
        epochs = list_epochs(events_path)
    if "://" in events_path:
        # non-local events_path (hdfs://, s3a://...): no local listing —
        # fall back to the DataFrame bulk path, which reads through the
        # JVM's filesystem layer
        reader = pipeline.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        changes = reader.option("basePath", events_path).parquet(
            *[os.path.join(events_path, f"epoch={e}") for e in epochs]
        )
        return pipeline.apply_epochs_bulk(changes, epochs)
    pairs = [(f, e) for f, e, _ in epoch_files(events_path, epochs)]
    # pass the epoch list through: an epoch whose directory holds no
    # parquet files must still COMMIT (empty fingerprint) — dropping it
    # would leave a commit-log gap that stalls the HWM roll-up forever
    # and re-processes the epoch on the next replay
    return pipeline.apply_epochs_bulk_files(
        pairs, schema=_file_schema(schema), epochs=epochs
    )


def start_stream(
    pipeline: CdcPipeline,
    events_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Tail the change directory with a checkpointed file source.

    Epoch id inside foreachBatch is the Structured Streaming ``batch_id`` —
    monotonically increasing and stable across restarts for the same input
    slice, which is exactly what the commit log needs.
    """
    spark = pipeline.spark
    reader = (
        spark.readStream.format("parquet")
        .schema(schema or CHANGE_EVENTS)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(events_path)

    def handle(batch_df, batch_id: int) -> None:
        pipeline.apply_epoch(batch_df, int(batch_id))
        pipeline.refresh_views()

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_stream_until_drained(
    pipeline: CdcPipeline,
    events_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    q = start_stream(
        pipeline, events_path, checkpoint_dir, schema, max_files_per_trigger
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
