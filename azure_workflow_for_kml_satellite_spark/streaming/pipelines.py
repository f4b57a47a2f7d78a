"""Structured Streaming pipelines.

- ``streaming_extract``: pages parquet stream → feature rows, the same
  mapInPandas extraction as batch (operators/extract.py) — Structured
  Streaming runs the identical plan incrementally, which is exactly the
  Spark-first replacement for the reference's one-orchestration-per-blob
  trigger (reference: blueprints/pipeline/blob_trigger.py).
- ``streaming_event_counts``: watermarked tumbling-window counts over an
  events stream (late rows beyond the watermark are dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from azure_workflow_for_kml_satellite_spark.operators.dedup import tokens_expr
from azure_workflow_for_kml_satellite_spark.operators.extract import (
    FEATURES_SCHEMA,
    extract_features,
)
from azure_workflow_for_kml_satellite_spark.operators.text import punct_ratio_expr


def streaming_extract(spark: SparkSession, input_dir: str, pages_schema=None) -> DataFrame:
    """readStream over a directory of pages parquet → feature rows."""
    if pages_schema is None:
        pages_schema = (
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
    stream = spark.readStream.schema(pages_schema).parquet(input_dir)
    return extract_features(stream)


def streaming_event_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with a watermark for late data."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev = spark.readStream.schema(schema).parquet(input_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap_s: int = 1800,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful operator: per-user session assembly with
    ``applyInPandasWithState`` — sessions close when the gap to the next
    event exceeds ``gap_s``; the open session is carried in state across
    micro-batches. (The reference has no streaming; this is the
    task-brief's stateful-streaming surface.)"""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(input_dir)

    out_type = "user_id long, session_start timestamp, session_end timestamp, n_events long"
    state_type = "start long, last long, n long"

    def assemble(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        rows = []
        for pdf in pdf_iter:
            rows.append(pdf[["ts"]])
        if rows:
            ts = (
                pd.concat(rows)["ts"]
                .sort_values()
                .astype("int64")
                .floordiv(1_000_000_000)
                .tolist()
            )
            for t in ts:
                if start is None:
                    start = last = t
                    n = 1
                elif t - last > gap_s:
                    closed.append((user_id, start, last, n))
                    start = last = t
                    n = 1
                else:
                    last = t
                    n += 1
        state.update((start, last, n))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime([c[1] for c in closed], unit="s"),
                    "session_end": pd.to_datetime([c[2] for c in closed], unit="s"),
                    "n_events": [c[3] for c in closed],
                }
            )

    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            assemble, out_type, state_type, "append", GroupStateTimeout.NoTimeout
        )
    )


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    docs_schema: str = "doc_id long, ts timestamp, text string",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit each distinct text's FIRST
    arrival, dropping later byte-identical copies.

    `dropDuplicatesWithinWatermark` on the xxhash64 of the text keeps one
    state-store row per distinct document AND evicts that row once the
    event-time watermark passes it — plain ``dropDuplicates`` on a subset
    that excludes the event-time column would never evict, so its state
    grows with the number of distinct texts forever. The trade is the
    documented one: a duplicate arriving later than the watermark re-emits
    (state/completeness trade; at 100 TB the state store is RocksDB-backed
    and keyed by a single long per distinct in-watermark text).
    Batch analog: operators/dedup.exact_duplicates."""
    docs = spark.readStream.schema(docs_schema).parquet(input_dir)
    return (
        docs.withColumn("text_hash", F.xxhash64("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("doc_id", "ts", "text_hash")
    )


def streaming_quality_gate(
    spark: SparkSession,
    input_dir: str,
    docs_schema: str = "doc_id long, ts timestamp, text string",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
) -> DataFrame:
    """Streaming training-data quality filter: the stateless subset of the
    batch quality_score heuristics (token floor + punctuation ceiling) as a
    pure column-expression filter — runs incrementally with no state."""
    docs = spark.readStream.schema(docs_schema).parquet(input_dir)
    punct_ratio = punct_ratio_expr()
    return (
        docs.withColumn("n_tokens", F.size(tokens_expr()))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .filter((F.col("n_tokens") >= min_tokens) & (punct_ratio <= max_punct_ratio))
    )


def run_stream_to_memory(df: DataFrame, name: str, mode: str = "update"):
    """Start the query into an in-memory sink and drain it (tests/demos)."""
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    return q


__all__ = [
    "streaming_extract",
    "streaming_event_counts",
    "streaming_exact_dedup",
    "streaming_quality_gate",
    "run_stream_to_memory",
    "FEATURES_SCHEMA",
]
