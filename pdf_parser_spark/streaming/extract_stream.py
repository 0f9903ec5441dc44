"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY §2.5: no streaming semantics),
but a crawl ingest at 10^12-document scale arrives continuously, so
the engine exposes the SAME extraction transform over a streaming
source: `readStream` on a pages directory → the identical fused
mapInPandas stage → `writeStream` to a documents sink with
checkpointing.  Exactly-once delivery comes from the file-source +
checkpoint contract; the batch resume/lineage design (jobs/extract.py)
is the replay story for reprocessing.

Watermarks/stateful operators are not needed — extraction is
stateless per document — but a windowed throughput metric stream is
included as the monitoring example (tumbling count by minute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jobs.extract import FUSED_SCHEMA, _make_fused_batches
from ..datagen.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)


def extract_documents_stream(pages: DataFrame,
                             chunk_size: int = 1000,
                             chunk_overlap: int = 200) -> DataFrame:
    """Streaming documents DataFrame — the batch job's fused stage.

    No repartition here: a shuffle inside a streaming query would
    force stateful exchange for no benefit on a stateless map."""
    return pages.select("url", "html").mapInPandas(
        _make_fused_batches(chunk_size, chunk_overlap), FUSED_SCHEMA
    )


def run_extract_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Drain every pages file present now into the documents sink, then
    stop (availableNow) — a deployment drops the trigger for a
    continuous run."""
    docs = extract_documents_stream(read_pages_stream(spark, pages_dir))
    q = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def throughput_metrics_stream(docs: DataFrame) -> DataFrame:
    """Tumbling 1-minute extraction metrics (docs, bytes, errors) —
    the watermarked monitoring aggregation."""
    return (
        docs.withColumn("ts", F.current_timestamp())
        .withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute"), F.col("kind"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("n_errors"),
        )
    )
