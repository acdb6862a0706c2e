"""Streaming extraction: the north-star pipeline as a Structured Streaming
job — new page files appear in a directory (the streaming stand-in for an
Iceberg table's incremental snapshots), each micro-batch runs the SAME
extraction stage as batch (`extract_docs` — one `mapInArrow` per
micro-batch, so PDF rows take the PDF kernel here too), and results append
to a parquet sink with a checkpoint for exactly-once resume.

This is the incremental-crawl shape at 10^12 rows: `availableNow=True`
drains the backlog in bounded micro-batches and stops (the reference's
resume-by-status loop, scheduler.py, expressed as checkpointed streaming);
a live crawl runs the same query without the trigger. Per-url byte identity
with the batch path is asserted in tests (streaming ≡ batch ≡ kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_docs
from ..schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, src_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a pages directory. `maxFilesPerTrigger`
    bounds per-micro-batch work (memory safety at scale)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def extract_pages_stream(pages_stream: DataFrame, salt: bool = False) -> DataFrame:
    """The SAME extraction operator as batch — its one mapInArrow stage runs
    per micro-batch, HTML and PDF rows alike. salt=False by default:
    micro-batches are already small and file-partitioned, so the defusal
    shuffle is pure overhead here."""
    return extract_docs(pages_stream, salt=salt)


def run_extraction_stream(spark: SparkSession, src_dir: str, out_dir: str,
                          checkpoint_dir: str,
                          available_now: bool = True) -> None:
    """Drain available page files through extraction into a parquet sink,
    exactly-once via checkpoint. Re-running after a kill resumes from the
    last committed micro-batch (no url processed twice) — the streaming
    twin of the batch manifest resume (plans/pipeline.py)."""
    docs = extract_pages_stream(read_pages_stream(spark, src_dir))
    q = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=available_now)
        .start()
    )
    q.awaitTermination()
