"""Pure-Python extraction kernel — ZERO Spark imports.

This package is the single source of truth for per-document semantics.
It is imported both by the pytest oracle (golden generation) and by the
Arrow stages (``mapInArrow`` / ``applyInArrow``) in
``rag_pdf_parser_spark.operators``, so the
Spark pipeline's extracted text is byte-identical to the goldens by
construction (SURVEY.md §5 / §7.1).

Determinism discipline: no wall-clock, no randomness, no dict/set iteration
order dependence, stable sorts only.
"""

from .lang import detect_language
from .tokens import estimate_tokens
from .htmlx import extract_document, decode_html, assemble_text
from .chunker import chunk_blocks, ChunkingConfig
from .pagemerge import merge_kind

__all__ = [
    "detect_language",
    "estimate_tokens",
    "extract_document",
    "decode_html",
    "assemble_text",
    "chunk_blocks",
    "ChunkingConfig",
    "merge_kind",
]
