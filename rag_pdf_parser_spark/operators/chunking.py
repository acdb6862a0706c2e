"""Chunking as a grouped map: `groupBy(doc_id).applyInArrow(...)`.

The reference's chunker (/root/reference/src/processing/chunking.py:18-231)
is inherently sequential per document — overlap re-seeding carries state
across flush boundaries (SURVEY §2.5 W6) — and embarrassingly parallel across
documents. That is exactly a grouped map: one Arrow group per doc_id, the
pure-Python kernel chunker inside (`operators.arrowmap.group_rows`).

Scale: the shuffle key is doc_id (high cardinality, uniform by construction
since doc_id = sha256 prefix), so no skew; group size is bounded by blocks
per document, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.chunker import chunk_blocks
from ..schema import CHUNKS_SCHEMA
from .arrowmap import group_rows

_BLOCK_COLS = ["page", "block_id", "type", "reading_order", "text",
               "markdown", "anchor"]


def chunk_documents(blocks: DataFrame) -> DataFrame:
    """blocks (flat, any order) → chunks per CHUNKS_SCHEMA, under the
    kernel's default `ChunkingConfig` (the one the fused
    `extract_docs(chunks=True)` stage uses)."""

    def chunk_group(g: dict[str, list]) -> list[list]:
        blist = sorted((dict(zip(_BLOCK_COLS, vals))
                        for vals in zip(*(g[c] for c in _BLOCK_COLS))),
                       key=lambda b: b["reading_order"])  # stable
        chunks = chunk_blocks(blist, g["doc_id"][0])
        return [[c[k] for k in CHUNKS_SCHEMA.names] for c in chunks]

    return blocks.groupBy("doc_id").applyInArrow(
        group_rows(chunk_group, CHUNKS_SCHEMA), CHUNKS_SCHEMA)


def embed_chunks(chunks: DataFrame) -> DataFrame:
    """Fill the chunk embedding slot (chunk.py:45) with an L2-normalized
    32-dim hashed bag-of-words vector — pure expressions, no UDF, no
    shuffle; the deterministic stand-in for a model embedding stage (north
    rule). The result feeds the similarity family directly (knn/ANN/IVF
    over chunks)."""
    from ..functions import hash_embedding_expr, l2_normalize_expr

    vec = l2_normalize_expr(hash_embedding_expr(F.col("text")))
    return chunks.withColumn(
        "embedding", F.transform(vec, lambda v: v.cast("float"))
    )

