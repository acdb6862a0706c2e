"""Deterministic page-boundary merge rule.

The reference asks an LLM whether a page break split a sentence
(/root/reference/src/processing/page_merger.py:21-48 prompt, 119-169 call)
and rewrites boundaries tail-first. Per the north rule, model calls are
replaced by a deterministic rule with the same *slot* in the dataflow:

    merge kind 'hyphen' — previous text ends with a word character followed
        by '-' (a hyphenated line/page break): join by dropping the hyphen,
        no separator.
    merge kind 'space'  — previous text ends with a lowercase letter, comma
        or semicolon (an open clause) AND the next text starts with a
        lowercase letter: join with a single space.
    None — no merge; keep the paragraph separator.

The same rule is expressed Spark-natively (lead/lag window + when()) in
``rag_pdf_parser_spark.operators.pagemerge`` and must agree byte-for-byte
with this kernel version (tested).
"""

from __future__ import annotations

import re

_HYPHEN_TAIL = re.compile(r"[A-Za-z0-9]-$")
_OPEN_TAIL = re.compile(r"[a-z,;]$")
_LOWER_HEAD = re.compile(r"^[a-z]")


def merge_kind(prev_tail: str, next_head: str) -> str | None:
    """Decide how to join text across a page boundary."""
    if not prev_tail or not next_head:
        return None
    if _HYPHEN_TAIL.search(prev_tail):
        return "hyphen"
    if _OPEN_TAIL.search(prev_tail) and _LOWER_HEAD.search(next_head):
        return "space"
    return None

