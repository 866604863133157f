"""Structured Streaming operators.

The reference library is batch-only (SURVEY.md §2.J), but the north-rule
pipeline ingests a crawl incrementally: the same batch stages run inside
``foreachBatch`` so batch and streaming share one code path. Provided
here:

- ``stream_events_windowed``: watermarked tumbling-window aggregation over
  the events table shape (event_type counts + value sums);
- ``stream_annotate_pages``: incremental KG construction — readStream on a
  pages directory, foreachBatch -> fused annotate+triples -> append sink;
- ``sessionize_events``: batch sessionization (lag + cumulative gap>30min
  session ids) — the Window-function equivalent of a stateful stream op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events_windowed(
    spark: SparkSession,
    path: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """readStream over an events directory -> watermarked windowed agg.
    Returns the streaming DataFrame (caller starts the query)."""
    events = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type", "n", "total_value",
        )
    )


def stream_annotate_pages(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint_path: str,
):
    """Incremental crawl ingest: stream page files, extract triples per
    micro-batch with the SAME fused batch kernel, append to parquet.
    Returns the started StreamingQuery."""
    from prose_spark.schemas import PAGES_SCHEMA
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        en = batch_df.filter(F.col("lang") == "en").select("url", "text")
        triples = annotate_and_extract_triples(en)
        triples.write.mode("append").parquet(out_path)

    return (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Assign session ids per user: a new session starts when the gap to
    the previous event exceeds ``gap_minutes``."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # cast via timestamp so TIMESTAMP_NTZ inputs work (session tz is UTC,
    # so the NTZ wall-clock reading equals DuckDB's epoch(ts))
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        events.withColumn("_new", new_sess)
        .withColumn(
            "session_seq",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col("user_id"), F.col("session_seq")),
        )
        .drop("_new")
    )
