"""Extraction stage: pages → documents(blocks, optionally chunks, nested).

Spark-first layout of the reference's per-file loop (SURVEY §3.1):
the entire per-document pipeline runs inside ONE `mapInArrow` stage calling
a pure-Python kernel per row of each Arrow batch — per-document imperative
work is the one thing Spark built-ins cannot express (reference analog:
ir_processor.py:96-264), and batching it through Arrow amortizes all serde.

The kernel is chosen per row (the parser registry, SURVEY §2.9): bytes that
start with ``%PDF`` go to `kernel.pdfx.extract_pdf_document`, everything
else to `kernel.htmlx.extract_document`. Both emit the same document dict,
so every downstream operator (explode, enrichments, chunking, dedup, sinks)
is lane-agnostic.

Scale design:
- **skew defusal**: upstream `repartition(n, xxhash64(url))` spreads hot
  hosts uniformly (north_rule; a host's pages share templates and can be
  enormous) — the extraction cost is per-row, so uniform row spread = uniform
  work;
- per-row size cap inside the kernel (MAX_HTML_BYTES, OVERSIZE_TRUNCATED
  failure code) bounds worst-case memory per task;
- everything downstream of this stage is native Spark (no Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..kernel.chunker import chunk_blocks
from ..kernel.htmlx import extract_document
from ..kernel.pdfx import extract_pdf_document
from ..schema import CHUNK_STRUCT, DOCS_FULL_SCHEMA, DOCS_SCHEMA

_CHUNK_FIELDS = [f.name for f in CHUNK_STRUCT.fields]

# Arrow twins of the output StructTypes, built once at import: the stage
# yields RecordBatches directly, with no pandas round-trip on either side of
# the boundary.
_DOCS_ARROW = pa.schema(
    [pa.field(f.name, to_arrow_type(f.dataType)) for f in DOCS_SCHEMA.fields])
_DOCS_FULL_ARROW = pa.schema(
    [pa.field(f.name, to_arrow_type(f.dataType))
     for f in DOCS_FULL_SCHEMA.fields])


def _batch_fn(chunks: bool):
    """The stage's Arrow batch function; `chunks` picks the output schema
    and whether each row is also chunked."""
    schema = _DOCS_FULL_ARROW if chunks else _DOCS_ARROW

    def _extract_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            cols: dict[str, list] = {name: [] for name in schema.names}
            for url, html in zip(batch.column("url").to_pylist(),
                                 batch.column("html").to_pylist()):
                raw = bytes(html) if html is not None else b""
                kernel = (extract_pdf_document if raw[:4] == b"%PDF"
                          else extract_document)
                d = {**kernel(raw), "url": url, "bytes_in": len(raw)}
                if chunks:
                    d["chunks"] = [
                        {k: c[k] for k in _CHUNK_FIELDS}
                        for c in chunk_blocks(d["blocks"], d["doc_id"])]
                for name, col in cols.items():
                    col.append(d[name])
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], type=f.type) for f in schema],
                schema=schema)

    return _extract_batches


def extract_docs(pages: DataFrame, partitions: int | None = None,
                 salt: bool = True, chunks: bool = False) -> DataFrame:
    """pages(url, html, ...) → docs per DOCS_SCHEMA (blocks nested), or per
    DOCS_FULL_SCHEMA (blocks AND chunks nested) when `chunks` is set.

    `chunks=True` fuses chunking into the same Arrow stage. Chunking is
    per-doc sequential (SURVEY §2.5 W6), so fusing it costs no extra pass
    and avoids the groupBy(doc_id) shuffle of the standalone grouped-map;
    use `chunk_documents` only when chunking pre-existing block tables.

    `partitions`: salted-repartition width before the UDF; defaults to
    3× the session's shuffle partitions (UDF stages want finer tasks than
    pure-JVM stages: stragglers from uneven per-document cost are the
    dominant tail at high parallelism).

    `salt=False` skips the defusal shuffle — correct when the input is
    already url-hash bucketed (an Iceberg table bucketed at ingest), which
    is the production layout at 10^12 rows.
    """
    src = pages.select("url", "html")
    if salt:
        n = partitions or 3 * int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        src = src.repartition(n, F.xxhash64("url"))
    return src.mapInArrow(_batch_fn(chunks),
                          DOCS_FULL_SCHEMA if chunks else DOCS_SCHEMA)


def extract_docs_full(pages: DataFrame, partitions: int | None = None,
                      salt: bool = True) -> DataFrame:
    """`extract_docs(pages, partitions, salt, chunks=True)`. Kept only
    because the benchmark harnesses (`bench.py`, `perfbench/core.py`)
    import it under this name and signature and are not edited alongside
    the library; new code calls `extract_docs` directly."""
    return extract_docs(pages, partitions, salt, chunks=True)


def explode_chunks(docs_full: DataFrame) -> DataFrame:
    """docs_full → flat chunks table (CHUNKS_SCHEMA shape)."""
    return (
        docs_full.select("doc_id", F.explode("chunks").alias("c"))
        .select("c.chunk_id", "doc_id", "c.page_start", "c.page_end",
                "c.block_ids", "c.section", "c.text", "c.token_count",
                "c.char_count", "c.reading_order_start",
                "c.reading_order_end", "c.anchors", "c.embedding")
    )


def explode_blocks(docs: DataFrame) -> DataFrame:
    """docs → flat blocks table keyed (doc_id, page, block_id) — the
    reference's IRBlock list materialized relationally (SURVEY §2.1 S3)."""
    return (
        docs.select("url", "doc_id", F.explode("blocks").alias("b"))
        .select("url", "doc_id", "b.*")
    )
