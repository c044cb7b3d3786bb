"""The exactly-once fingerprint must agree with an independent Spark
reference on every route. The engine computes it in one place, the writer
kernel (numpy position hash, pyarrow chunk sums), fed from files
(`replay_bulk`) or from ``mapInArrow`` (`apply_epoch`). The reference here
is plain Spark SQL: per (epoch, source partition), the 22+22+20-bit chunk
sums of ``xxhash64(source_partition, lsn)``, the row count and the max
``lsn``. If a route diverged, an epoch committed on it and re-delivered to
another would be treated as different input."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import physical_schema
from etl_documentos_spark.schemas import TRANSCRIPTS
from etl_documentos_spark.streaming.apply import CdcPipeline
from etl_documentos_spark.streaming.stream import replay_bulk


def spark_reference(changes) -> dict[int, tuple[str, dict[int, int]]]:
    """{epoch: (fingerprint, {source_partition: max lsn})} in Spark SQL."""
    h = F.xxhash64("source_partition", "lsn")
    rows = (
        changes.groupBy("epoch", "source_partition")
        .agg(
            F.sum(h.bitwiseAND(F.lit(0x3FFFFF))).alias("h0"),
            F.sum(F.shiftrightunsigned(h, 22).bitwiseAND(F.lit(0x3FFFFF))).alias("h1"),
            F.sum(F.shiftrightunsigned(h, 44)).alias("h2"),
            F.count("*").alias("n"),
            F.max("lsn").alias("max_lsn"),
        )
        .collect()
    )
    out: dict[int, list] = {}
    for r in rows:
        acc = out.setdefault(int(r["epoch"]), [0, 0, 0, 0, {}])
        for i, c in enumerate(("h0", "h1", "h2", "n")):
            acc[i] += int(r[c])
        acc[4][int(r["source_partition"])] = int(r["max_lsn"])
    return {e: (f"{a[0]}:{a[1]}:{a[2]}:{a[3]}", a[4]) for e, a in out.items()}


def test_bulk_and_jvm_fingerprints_agree(spark, tmp_path):
    events_path = str(tmp_path / "ev")
    df = datagen.change_stream(spark, n_events=8000, events_per_epoch=2000)
    n_epochs = datagen.write_epochs(df, events_path)
    want = spark_reference(
        spark.read.option("basePath", events_path).parquet(events_path)
    )
    assert sorted(want) == list(range(n_epochs))

    def pipeline(name):
        root = str(tmp_path / name / "t")
        LakeTable.create(root, physical_schema(TRANSCRIPTS), num_buckets=8)
        return CdcPipeline(spark, root, str(tmp_path / name / "w"))

    bulk = pipeline("bulk")
    replay_bulk(bulk, events_path)
    per_epoch = pipeline("epoch")
    for e in range(n_epochs):
        per_epoch.apply_epoch(
            spark.read.parquet(f"{events_path}/epoch={e}"), e
        )

    for pipe in (bulk, per_epoch):
        for e in range(n_epochs):
            rec = pipe.commitlog.get(e)
            assert rec is not None
            got = (rec.input_fingerprint, rec.source_partition_offsets)
            assert got == want[e], f"epoch {e}"
