"""Token-budget chunking with section awareness and overlap re-seeding.

Reproduces the reference's IR-aware chunker semantics exactly
(/root/reference/src/processing/chunking.py:18-231):

- scan blocks in reading order, accumulating content and token counts
  (content = markdown or text — ``get_content``, block.py:110-113);
- on a section header (type in {title, section_header}) flush the current
  chunk IF it holds >= min_chunk_size tokens, then record the new section
  (chunking.py:54-77);
- after the block is appended: if tokens >= chunk_size AND the block text is
  blank, flush at the paragraph boundary; elif tokens >= max_chunk_size,
  force-flush (chunking.py:85-126);
- every flush re-seeds the next chunk with trailing blocks totaling
  <= overlap_tokens, scanned backwards (chunking.py:183-204);
- chunk fields per _create_chunk (chunking.py:139-180): chunk_id
  '{doc_id[:8]}_c{i}', text = '\n\n'-join of non-empty contents, page_range
  min/max, block_ids, anchors, reading-order min/max, token_count on the
  merged text.

Pure Python, no Spark imports — called per row by the fused extraction
stage (``operators.extract.extract_docs(chunks=True)``), wrapped by
``applyInPandas`` in ``rag_pdf_parser_spark.operators.chunking`` (grouped-map,
sequential per doc, embarrassingly parallel across docs) and called directly
by the pytest oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from .tokens import estimate_tokens


@dataclass(frozen=True)
class ChunkingConfig:
    """Defaults per /root/reference/src/models/chunk.py:122-132."""

    chunk_size: int = 1000
    overlap_tokens: int = 100
    respect_sections: bool = True
    respect_paragraphs: bool = True
    min_chunk_size: int = 100
    max_chunk_size: int = 2000
    include_anchors: bool = True


def _content(block: dict) -> str:
    return block.get("markdown") or block.get("text") or ""


def _overlap_blocks(blocks: list[dict], overlap_tokens: int) -> list[dict]:
    """Backward scan collecting trailing blocks within the overlap budget
    (chunking.py:183-204)."""
    out: list[dict] = []
    tokens = 0
    for block in reversed(blocks):
        bt = estimate_tokens(_content(block))
        if tokens + bt <= overlap_tokens:
            out.insert(0, block)
            tokens += bt
        else:
            break
    return out


def _make_chunk(blocks: list[dict], doc_id: str, index: int,
                section: str | None, cfg: ChunkingConfig) -> dict:
    texts = [c for c in (_content(b) for b in blocks) if c]
    merged = "\n\n".join(texts)
    pages = [b["page"] for b in blocks]
    orders = [b["reading_order"] for b in blocks]
    return {
        "chunk_id": f"{doc_id[:8]}_c{index}",
        "doc_id": doc_id,
        "page_start": min(pages) if pages else 0,
        "page_end": max(pages) if pages else 0,
        "block_ids": [b["block_id"] for b in blocks],
        "section": section,
        "text": merged,
        "token_count": estimate_tokens(merged),
        "char_count": len(merged),
        "reading_order_start": min(orders) if orders else 0,
        "reading_order_end": max(orders) if orders else 0,
        "anchors": [b["anchor"] for b in blocks if b.get("anchor")]
        if cfg.include_anchors
        else [],
        # embedding slot stays null at chunking time (chunk.py:45); the K3
        # sink excludes it (chunk.py:57-59)
        "embedding": None,
    }


def chunk_blocks(blocks: list[dict], doc_id: str | None = None,
                 cfg: ChunkingConfig | None = None) -> list[dict]:
    """Chunk one document's blocks (must already be in reading order)."""
    cfg = cfg or ChunkingConfig()
    if not blocks:
        return []
    doc_id = doc_id or blocks[0].get("doc_id") or ""

    chunks: list[dict] = []
    cur: list[dict] = []
    cur_tokens = 0
    section: str | None = None
    index = 0

    def flush() -> None:
        nonlocal cur, cur_tokens, index
        chunks.append(_make_chunk(cur, doc_id, index, section, cfg))
        index += 1
        if cfg.overlap_tokens > 0:
            cur = _overlap_blocks(cur, cfg.overlap_tokens)
            cur_tokens = sum(estimate_tokens(_content(b)) for b in cur)
        else:
            cur = []
            cur_tokens = 0

    for block in blocks:
        text = _content(block)
        btokens = estimate_tokens(text)
        is_header = block.get("type") in ("title", "section_header")

        if is_header and cfg.respect_sections:
            if cur and cur_tokens >= cfg.min_chunk_size:
                flush()
            section = text.strip()

        cur.append(block)
        cur_tokens += btokens

        if cur_tokens >= cfg.chunk_size:
            if cfg.respect_paragraphs and not text.strip():
                flush()
            elif cur_tokens >= cfg.max_chunk_size:
                flush()

    if cur:
        chunks.append(_make_chunk(cur, doc_id, index, section, cfg))
    return chunks
