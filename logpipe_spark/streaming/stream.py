"""Structured Streaming flavor of the pipeline — the true analogue of
logpipe's inotify tail loop.

Reference mapping:

- inotify-tail of a growing directory (`logpipe-input-file.c:1473-1710`)
  → `spark.readStream` file source: new files under the source dir are
  discovered per micro-batch; `Trigger.AvailableNow` = "drain everything
  seen so far then stop" (the batch-resume duality of §3.2).
- offset commit after outputs accept (`logpipe-input-file.c:1901-1925`)
  → the streaming checkpoint: file-source offsets commit only after the
  `foreachBatch` body returns, so a crash replays the uncommitted batch
  (at-least-once per batch; sinks written per-batch-id are idempotent).
- monitor restart loop (`src/monitor.c:89-181`) → just restart the query
  with the same checkpointLocation.

The per-batch body is batch mode's per-snapshot body
(``pipeline.process_snapshot``: parse → enrich → route → fan-out write →
driver-side lineage) — one code path for both execution modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from logpipe_spark.pipeline import process_snapshot, require_posix_dir

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# per-batch lineage: pipeline.process_snapshot's rows keyed by batch id
STREAM_LINEAGE_DDL = (
    "batch_id long, partition_id int, rows_in long, parsed long, "
    "routed long, dropped long, sink string, file string"
)


def run_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    dim: DataFrame,
    rules: list[dict],
    available_now: bool = True,
    timeout_sec: int = 300,
    trigger_interval_us: int | None = None,
    dim_keys: list[str] | None = None,
) -> dict:
    """Micro-batch the source dir through the pipeline into partitioned
    sinks + per-batch lineage, exactly once per batch id.

    Each micro-batch goes through ``pipeline.process_snapshot`` — the same
    stage chain, fan-out write and driver-side lineage as batch mode,
    keyed by batch id (``STREAM_LINEAGE_DDL``). ``out_dir`` must be a
    POSIX path (ValueError otherwise, before the checkpoint is created).

    ``trigger_interval_us``: continuous-tail poll period (the reference's
    min/max_usleep backoff, `logpipe-input-file.c` config via
    usleep_atou64) — used when ``available_now`` is False; parse config
    strings like "100ms" with functions.units.parse_duration_us.

    Returns {"batches": n} after the query drains (available_now) or
    times out."""
    require_posix_dir(out_dir)
    checkpoint = os.path.join(out_dir, "_checkpoint")
    data_root = os.path.join(out_dir, "data")
    lineage_root = os.path.join(out_dir, "lineage")
    seen = {"batches": 0}

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # fan_out_write overwrites the batch dir: a replayed batch id is idempotent
        process_snapshot(
            batch_df, dim, rules,
            os.path.join(data_root, f"batch={batch_id}"),
            os.path.join(lineage_root, f"batch={batch_id}"),
            (int(batch_id),),
            ddl=STREAM_LINEAGE_DDL,
            dim_keys=dim_keys,
        )
        seen["batches"] += 1

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval_us:
        ms = max(trigger_interval_us // 1000, 1)
        writer = writer.trigger(processingTime=f"{ms} milliseconds")
    query = writer.start()
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
    return seen


def read_stream_sinks(spark: SparkSession, out_dir: str) -> DataFrame:
    data_root = os.path.join(out_dir, "data")
    return spark.read.option("basePath", data_root).parquet(data_root)
