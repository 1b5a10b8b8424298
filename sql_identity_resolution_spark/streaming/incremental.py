"""Structured-Streaming incremental driver.

The reference has NO streaming operators — its incrementality is
watermark-bounded batch micro-runs (SURVEY §2.10). This module is the
Spark-native upgrade: a ``readStream`` on the turns directory feeds
``foreachBatch``, and each micro-batch executes the SAME batch pipeline in
INCR mode (exactly-once per batch via the idempotent MERGE sinks + run_state).
The pipeline logic is shared, not forked — foreachBatch hands us a batch
DataFrame and the engine's watermark/lookback semantics do the rest.

Late data: the engine's per-source ``watermark_lookback_minutes`` plays the
role of ``withWatermark`` lateness (reprocess window); true event-time
watermarking can be layered by filtering the micro-batch.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_identity_resolution_spark.config import EngineConfig
from sql_identity_resolution_spark.plans.pipeline import IDRPipeline, RunResult

TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


class StreamingIDR:
    """Micro-batch incremental identity resolution over a growing turns dir."""

    def __init__(self, spark: SparkSession, cfg: EngineConfig, staging_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.staging_dir = staging_dir
        self.pipeline = IDRPipeline(spark, cfg)
        self.results: list[RunResult] = []

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # land the micro-batch into the staging area the batch sources read,
        # less any (conv_id, turn_idx) already staged: a replayed epoch (same
        # epoch_id, same rows) then appends nothing, so the INCR rerun sees no
        # duplicated turns and is idempotent (MERGE sinks + inclusive
        # watermark). The staged keys are filtered by a broadcast of the
        # batch's keys, so the check is a scan, not a shuffle of the staging area.
        keys = ["conv_id", "turn_idx"]
        try:
            staged = self.spark.read.schema(TURNS_SCHEMA).parquet(self.staging_dir).select(*keys)
        except AnalysisException:  # the first epoch creates the staging area
            staged = None
        if staged is not None:
            seen = staged.join(F.broadcast(batch_df.select(*keys)), keys, "left_semi")
            batch_df = batch_df.join(seen, keys, "left_anti")
        batch_df.write.mode("append").parquet(self.staging_dir)
        res = self.pipeline.run(mode="INCR", run_id=f"stream_epoch_{epoch_id}")
        self.results.append(res)

    def start(self, input_dir: str, checkpoint_dir: str, trigger_seconds: int = 30):
        """readStream(files) → foreachBatch(INCR run). Returns the query;
        callers own .processAllAvailable()/.stop() (tests) or awaitTermination."""
        stream = (
            self.spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .parquet(input_dir)
        )
        return (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
