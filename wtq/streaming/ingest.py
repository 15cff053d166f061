"""Structured Streaming ingestion.

The reference is purely batch (SURVEY.md §2.9) — snapshot download →
full reprocess (bash/run_all:1-5).  The idiomatic Spark upgrade path
it calls out is incremental processing via ``Trigger.AvailableNow``:
the stream reads whatever is available, processes it with the same
logic as batch, checkpoints, and stops — giving resumable incremental
runs without a long-lived cluster.  This module provides that path
for the events table: windowed rollups and a streaming dedup +
stream-static join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _run_available_now(stream_df: DataFrame, checkpoint: str) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow through a foreachBatch
    parquet sink (complete mode: each batch overwrites with the latest
    full result) and read the result back.

    The round-1 memory sink stored the result table on the driver — a
    driver-side bottleneck anyone copying the pattern at scale would
    inherit.  foreachBatch writes are executor-distributed."""
    out_dir = checkpoint.rstrip("/") + "_out"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    # through Hadoop's FileSystem, so any URI the sink wrote works
    # (`file://`, `s3a://`, …), not only a local path
    path = spark._jvm.org.apache.hadoop.fs.Path(out_dir)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        # zero micro-batches fired (empty/missing source): behave like
        # the old memory sink and return an empty result, not a
        # PATH_NOT_FOUND crash
        return spark.createDataFrame([], stream_df.schema)
    return spark.read.parquet(out_dir)


def windowed_event_counts(spark: SparkSession, sf_dir: str, checkpoint: str) -> DataFrame:
    """Tumbling 1-hour windows with a 1-hour watermark over the events
    table read as a stream (one file = one micro-batchable source).
    Late rows beyond the watermark would be dropped — none exist in
    the snapshot, so results equal the batch time_bucket rollup."""
    # streaming file source needs a directory; glob-filter to the events file
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "1 hour")
        .groupBy(F.window("ts_ltz", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
        )
    )
    out = _run_available_now(agg, checkpoint)
    return out.select(
        F.unix_millis(F.col("w.start")).alias("window_ms"),
        "event_type",
        "n",
        "total_value",
    )


SQL_WINDOWED_EVENT_COUNTS = """
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_ms,
       event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def stream_dedup_join_counts(spark: SparkSession, sf_dir: str, checkpoint: str) -> DataFrame:
    """Streaming dedup + stream-static join (SURVEY.md §2.9 upgrade
    surface): the source is replayed ×2 inside the stream (explode) to
    simulate at-least-once redelivery, `dropDuplicates(event_id)`
    under a watermark restores exactly-once, then a stream-static
    broadcast join attaches a tier dim and a windowless rollup counts
    per tier.  The dedup is load-bearing: without it every count
    doubles, so the batch oracle (plain per-tier rollup of the
    original events) catches a dedup regression."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    replayed = src.withColumn("copy", F.explode(F.array(F.lit(1), F.lit(2))))
    # dropDuplicatesWithinWatermark — NOT dropDuplicates([id]): with a
    # plain subset that excludes the event-time column, the watermark
    # never evicts dedup state and the state store grows one entry per
    # event_id forever on a continuous stream
    deduped = (
        replayed.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    tiers = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type")
        .distinct()
        .withColumn("tier", F.upper(F.substring("event_type", 1, 1)))
    )
    joined = deduped.join(F.broadcast(tiers), "event_type")
    # money discipline (DEVNOTES §9): sum in the decimal domain so the
    # result is independent of partition/micro-batch merge order
    agg = joined.groupBy("tier").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
    )
    return _run_available_now(agg, checkpoint)


SQL_STREAM_DEDUP_JOIN_COUNTS = """
SELECT upper(substr(event_type, 1, 1)) AS tier, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY 1
"""
