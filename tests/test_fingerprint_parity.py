"""The exactly-once fingerprint must agree across every path that computes
it: the JVM aggregation (`batch_stats`, used by the COW apply) and the
Arrow-writer inline aggregation (pyarrow shifts + group_by over the
position hash, used by every MOR route, from the JVM hash column on the
DataFrame writer and from numpy on the file writer). If they diverge, an
epoch committed on one route and re-delivered to another would be treated
as different input."""

from __future__ import annotations

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators.merge import physical_schema
from etl_documentos_spark.schemas import TRANSCRIPTS
from etl_documentos_spark.streaming.apply import CdcPipeline
from etl_documentos_spark.streaming.commitlog import batch_stats
from etl_documentos_spark.streaming.stream import replay_bulk


def test_bulk_and_jvm_fingerprints_agree(spark, tmp_path):
    events_path = str(tmp_path / "ev")
    df = datagen.change_stream(spark, n_events=8000, events_per_epoch=2000)
    n_epochs = datagen.write_epochs(df, events_path)

    root = str(tmp_path / "t")
    LakeTable.create(root, physical_schema(TRANSCRIPTS), num_buckets=8)
    pipe = CdcPipeline(spark, root, str(tmp_path / "w"))
    replay_bulk(pipe, events_path)

    for e in range(n_epochs):
        jvm = batch_stats(spark.read.parquet(f"{events_path}/epoch={e}"))
        rec = pipe.commitlog.get(e)
        assert rec is not None
        assert rec.input_fingerprint == jvm.fingerprint, f"epoch {e}"
        assert rec.source_partition_offsets == jvm.offsets, f"epoch {e}"
