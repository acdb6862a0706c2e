"""Chunking as a grouped-map: `groupBy(doc_id).applyInPandas(...)`.

The reference's chunker (/root/reference/src/processing/chunking.py:18-231)
is inherently sequential per document — overlap re-seeding carries state
across flush boundaries (SURVEY §2.5 W6) — and embarrassingly parallel across
documents. That is exactly `applyInPandas`: one pandas group per doc_id, the
pure-Python kernel chunker inside, Arrow both ways.

Scale: the shuffle key is doc_id (high cardinality, uniform by construction
since doc_id = sha256 prefix), so no skew; group size is bounded by blocks
per document, not corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.chunker import ChunkingConfig, chunk_blocks
from ..schema import CHUNKS_SCHEMA

_CHUNK_COLS = [f.name for f in CHUNKS_SCHEMA.fields]


def chunk_documents(blocks: DataFrame, cfg: ChunkingConfig | None = None) -> DataFrame:
    """blocks (flat, any order) → chunks per CHUNKS_SCHEMA."""
    cfg = cfg or ChunkingConfig()

    def _chunk_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("reading_order", kind="stable")
        doc_id = pdf["doc_id"].iloc[0]
        blist = pdf[
            ["page", "block_id", "type", "reading_order", "text", "markdown",
             "anchor"]
        ].to_dict("records")
        chunks = chunk_blocks(blist, doc_id, cfg)
        return pd.DataFrame(
            [[c[k] for k in _CHUNK_COLS] for c in chunks], columns=_CHUNK_COLS
        )

    return blocks.groupBy("doc_id").applyInPandas(_chunk_group, CHUNKS_SCHEMA)


def embed_chunks(chunks: DataFrame, dim: int = 32) -> DataFrame:
    """Fill the chunk embedding slot (chunk.py:45) with an L2-normalized
    hashed bag-of-words vector — pure expressions, no UDF, no shuffle; the
    deterministic stand-in for a model embedding stage (north rule). The
    result feeds the similarity family directly (knn/ANN/IVF over chunks)."""
    from ..functions import hash_embedding_expr, l2_normalize_expr

    vec = l2_normalize_expr(hash_embedding_expr(F.col("text"), dim))
    return chunks.withColumn(
        "embedding", F.transform(vec, lambda v: v.cast("float"))
    )


def chunks_jsonl(chunks: DataFrame) -> DataFrame:
    """K3 sink projection — the embedding column is excluded per
    /root/reference/src/models/chunk.py:52-60 (chunk JSONL never carries
    vectors; they live in a separate embeddings table)."""
    chunks = chunks.drop("embedding")
    return chunks.withColumn(
        "citation",
        F.when(
            F.col("page_start") == F.col("page_end"),
            F.format_string("[Source: %s, p.%d, blocks: %d]",
                            F.col("doc_id"), F.col("page_start"),
                            F.size("block_ids")),
        ).otherwise(
            F.format_string("[Source: %s, p.%d-%d, blocks: %d]",
                            F.col("doc_id"), F.col("page_start"),
                            F.col("page_end"), F.size("block_ids"))
        ),
    )
