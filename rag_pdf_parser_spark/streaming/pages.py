"""Streaming extraction: the north-star pipeline as a Structured Streaming
job — new page files appear in a directory (the streaming stand-in for an
Iceberg table's incremental snapshots), and each micro-batch is one
`ExtractionPipeline.run` into the same out_dir. The stream has the batch
pipeline's one table (it does not chunk: its rows read NULL `chunks`) and
its exactly-once machinery: the manifest resume, the writer lease, the
batch commit protocol and the committed readers. A micro-batch replayed
after a crash, or by a rerun with a fresh checkpoint, finds its urls in
the manifest and commits nothing. A micro-batch that died before its
commit rename left only its staging dir, and the restarted query's next
micro-batch (a `run` under the lease) deletes it.

`availableNow=True` drains the backlog in bounded micro-batches and stops
(the reference's resume-by-status loop, scheduler.py, as checkpointed
streaming); a live crawl would run the same query without the trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import ExtractionPipeline
from ..schema import PAGES_SCHEMA


def run_extraction_stream(spark: SparkSession, src_dir: str, out_dir: str,
                          checkpoint_dir: str) -> None:
    """Drain available page files (at most 8 per micro-batch, which bounds
    each batch's work) through `ExtractionPipeline(spark, out_dir).run`,
    one committed batch per micro-batch; read the result with that
    pipeline's `read_docs` / `read_blocks`, empty before the first
    commit. A micro-batch that repeats a url commits it once, as its
    first capture (`run`)."""
    pipe = ExtractionPipeline(spark, out_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        pipe.run(batch, run_id=f"stream-{batch_id}", with_chunks=False)

    q = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
