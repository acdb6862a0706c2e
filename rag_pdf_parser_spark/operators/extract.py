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
- **skew defusal**: upstream `repartition(xxhash64(url))` at the session's
  shuffle width spreads hot hosts uniformly (north_rule; a host's pages
  share templates and can be enormous) — the extraction cost is per-row,
  so uniform row spread = uniform work;
- per-row size cap inside the kernel (MAX_HTML_BYTES, OVERSIZE_TRUNCATED
  failure code) bounds worst-case memory per task;
- everything downstream of this stage is native Spark (no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.chunker import chunk_blocks
from ..kernel.htmlx import extract_document
from ..kernel.pdfx import extract_pdf_document
from ..schema import DOCS_FULL_SCHEMA, DOCS_SCHEMA
from .arrowmap import map_rows, salted


BLOCKED_BYTES = "__blocked_bytes"


def _extract_row(chunks: bool):
    """The stage's row kernel; `chunks` picks the output columns and
    whether each row is also chunked."""
    names = (DOCS_FULL_SCHEMA if chunks else DOCS_SCHEMA).names

    def extract(url, html, blocked_bytes=None):
        raw = bytes(html) if html is not None else b""
        kernel = (extract_pdf_document if raw[:4] == b"%PDF"
                  else extract_document)
        d = {**kernel(raw), "url": url, "bytes_in": len(raw)}
        if blocked_bytes is not None:
            d.update(failure_code="URL_BLOCKED", bytes_in=blocked_bytes)
        if chunks:  # the chunk struct keeps its fields, drops `doc_id`
            d["chunks"] = chunk_blocks(d["blocks"], d["doc_id"])
        return [[d[name] for name in names]]

    return extract


def extract_docs(pages: DataFrame, salt: bool = True,
                 chunks: bool = False) -> DataFrame:
    """pages(url, html, ...) → docs per DOCS_SCHEMA (blocks nested), or per
    DOCS_FULL_SCHEMA (blocks AND chunks nested) when `chunks` is set.

    `chunks=True` fuses chunking into the same Arrow stage. Chunking is
    per-doc sequential (SURVEY §2.5 W6), so fusing it costs no extra pass
    and avoids the groupBy(doc_id) shuffle of the standalone grouped-map;
    use `chunk_documents` only when chunking pre-existing block tables.

    The salted repartition (`arrowmap.salted`) spreads the pages over the
    session's shuffle partitions, the width every salted Arrow stage
    uses. `salt=False` skips the defusal shuffle — correct when the input
    is already url-hash bucketed (an Iceberg table bucketed at ingest),
    which is the production layout at 10^12 rows. In an optional
    `BLOCKED_BYTES` column (the pipeline's URL gate), a value marks a row
    with NULL html: it comes out URL_BLOCKED, that value its `bytes_in`.
    """
    src = pages.select("url", "html", *(
        [BLOCKED_BYTES] if BLOCKED_BYTES in pages.columns else []))
    if salt:
        src = salted(src, "url")
    schema = DOCS_FULL_SCHEMA if chunks else DOCS_SCHEMA
    return src.mapInArrow(map_rows(_extract_row(chunks), schema), schema)


def extract_docs_full(pages: DataFrame, salt: bool = True) -> DataFrame:
    """`extract_docs(pages, salt=salt, chunks=True)`. Kept only
    because the benchmark harnesses (`bench.py`, `perfbench/core.py`)
    import it under this name and signature and are not edited alongside
    the library; new code calls `extract_docs` directly."""
    return extract_docs(pages, salt=salt, chunks=True)


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
