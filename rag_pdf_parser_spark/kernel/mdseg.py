"""Markdown structural segmentation (line-scan state machine).

Reproduces the reference's markdown→blocks parser semantics
(/root/reference/src/layout/qwen_parser.py:321-492; patterns :353-357):

- `^#{1,6}\\s+` headings (level 1 → 'title', deeper → 'section_header' —
  the engine's convention; the reference tags all headings 'title' and
  carries the level in raw_data, qwen_parser.py:388-400);
- `^!\\[..\\](..)$` standalone figures (caption from alt text, '[Figure]'
  fallback, qwen_parser.py:404-426);
- `^\\|(.+)\\|$` table rows accumulated until a non-row line; separator rows
  (`|---|---|`) dropped and cells joined ' | ' per row for the text field
  (qwen_parser.py:428-447, 525-533);
- `^\\$\\$..\\$\\$$` formula blocks (qwen_parser.py:449-470);
- everything else accumulates into paragraphs flushed on blank lines
  (qwen_parser.py:472-489).

Pure Python; used by the mdseg operator (mapInArrow over a text/markdown
column) and the pytest oracle.
"""

from __future__ import annotations

import re

_HEADING = re.compile(r"^(#{1,6})\s+(.+)$")
_FIGURE = re.compile(r"^!\[([^\]]*)\]\(([^)]*)\)$")
_TABLE_ROW = re.compile(r"^\|(.+)\|$")
_FORMULA = re.compile(r"^\$\$(.+)\$\$$", re.S)
_TABLE_SEP = re.compile(r"^\|[\s\-|]+\|$")


def _table_block(table_lines: list[str]) -> dict:
    rows = []
    for ln in table_lines:
        if _TABLE_SEP.match(ln):
            continue
        cells = [c.strip() for c in ln.strip("|").split("|")]
        rows.append(" | ".join(cells))
    return {"type": "table", "text": "\n".join(rows),
            "markdown": "\n".join(table_lines)}


def segment_markdown(markdown: str) -> list[dict]:
    """markdown/plain text → ordered typed block dicts
    (type, text, markdown, reading_order)."""
    if not markdown or not markdown.strip():
        return []
    blocks: list[dict] = []
    paragraph: list[str] = []
    table_lines: list[str] = []
    in_table = False

    def flush_para():
        if paragraph:
            text = "\n".join(paragraph).strip()
            blocks.append({"type": "text", "text": text, "markdown": text})
            paragraph.clear()

    for line in markdown.split("\n"):
        s = line.strip()
        if not s:
            flush_para()
            continue
        m = _HEADING.match(s)
        if m:
            flush_para()
            level = len(m.group(1))
            text = m.group(2).strip()
            blocks.append({
                "type": "title" if level == 1 else "section_header",
                "text": text,
                "markdown": f"{'#' * level} {text}",
            })
            continue
        m = _FIGURE.match(s)
        if m:
            flush_para()
            caption = m.group(1).strip()
            blocks.append({
                "type": "figure",
                "text": caption if caption else "[Figure]",
                "markdown": s,
            })
            continue
        if _TABLE_ROW.match(s):
            if not in_table:
                flush_para()
                in_table = True
            table_lines.append(s)
            continue
        elif in_table:
            if table_lines:
                blocks.append(_table_block(table_lines))
            table_lines = []
            in_table = False
        m = _FORMULA.match(s)
        if m:
            flush_para()
            blocks.append({"type": "formula",
                           "text": m.group(1).strip(), "markdown": s})
            continue
        paragraph.append(line)

    flush_para()
    if table_lines:
        blocks.append(_table_block(table_lines))

    for i, b in enumerate(blocks):
        b["reading_order"] = i
    return blocks
