"""Fixed StructType schemas for every engine table (schema-on-write, no inference).

Mirrors the reference's dataclass-defined records (SURVEY.md §1):
IRBlock (/root/reference/src/models/block.py:25-60) → BLOCK_STRUCT with pixel
bboxes replaced by character span offsets; IRChunk
(/root/reference/src/models/chunk.py:13-88) → CHUNK_SCHEMA; the input_hint
pages table; and the per-partition manifest (resume/lineage, SURVEY §2.1 K7).
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint: (url, warc_ts, html, text, lang)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Per-block line spans — the reference's ocr_lines analog
# (/root/reference/src/models/block.py:57; extractor.py:252-260): line-level
# sub-structure as character offsets into the assembled document text
# (pixel boxes → span offsets per SURVEY §7.4.3).
LINE_STRUCT = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
    ]
)

# One extracted block — IRBlock analog (block.py:25-60), spans not bboxes.
# `caption` is the M3/M5 slot: deterministic per-type template from
# geometry/context (nearest heading + per-type index + alt/figcaption),
# replacing /root/reference/src/captioning/vlm.py:20-76 per the north rule.
BLOCK_STRUCT = T.StructType(
    [
        T.StructField("page", T.IntegerType(), False),
        T.StructField("block_id", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("reading_order", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("span_start", T.LongType(), True),
        T.StructField("span_end", T.LongType(), True),
        T.StructField("anchor", T.StringType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("lines", T.ArrayType(LINE_STRUCT), True),
    ]
)

# Extraction output: one row per document, blocks nested (exploded downstream).
# `authors` (from <meta name="author">) and `parser_version` mirror
# IRDocument (block.py:149-230); `created_at` is deliberately ABSENT — the
# engine's determinism discipline bans wall-clock values in data rows
# (run-level timestamps live in the manifest instead).
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("charset", T.StringType(), True),
        T.StructField("failure_code", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("authors", T.ArrayType(T.StringType()), True),
        T.StructField("parser_version", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("blocks", T.ArrayType(BLOCK_STRUCT), False),
    ]
)

# Flat blocks table (post-explode), keyed (doc_id, page, block_id).
BLOCKS_FLAT_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType(), False),
     T.StructField("doc_id", T.StringType(), False)]
    + BLOCK_STRUCT.fields
)

# IRChunk analog (chunk.py:13-88); page_range → two ints (SURVEY §1.1).
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_start", T.IntegerType(), False),
        T.StructField("page_end", T.IntegerType(), False),
        T.StructField("block_ids", T.ArrayType(T.StringType()), False),
        T.StructField("section", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("token_count", T.IntegerType(), False),
        T.StructField("char_count", T.IntegerType(), False),
        T.StructField("reading_order_start", T.IntegerType(), False),
        T.StructField("reading_order_end", T.IntegerType(), False),
        T.StructField("anchors", T.ArrayType(T.StringType()), False),
        # embedding slot (chunk.py:45) — null until an embedding stage fills
        # it; the K3 JSONL sink excludes it (chunk.py:57-59 semantics).
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)

# Chunk as a nested struct (for the fused extract+chunk stage).
CHUNK_STRUCT = T.StructType([f for f in CHUNKS_SCHEMA.fields if f.name != "doc_id"])

# Fused extraction output: blocks AND chunks nested — one mapInArrow pass,
# zero extra shuffle for chunking (per-doc sequential work stays per-doc).
DOCS_FULL_SCHEMA = T.StructType(
    DOCS_SCHEMA.fields + [T.StructField("chunks", T.ArrayType(CHUNK_STRUCT), False)]
)

# Per-url lineage manifest (north_rule resume mechanism; FIXTURES §6).
# `text_hash` is the dedup log (deduplicator.py:45-59 JSON dict → a column):
# the normalized-text hash of a doc a `dedupe=True` run published as its
# hash's winner, NULL otherwise. `batch_id` is NOT in the data files — it is
# the commit-log partition directory (manifest/batch_id=<token>/,
# plans/pipeline.py commit protocol) surfaced as a partition column on read.
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        T.StructField("failure_code", T.StringType(), True),
        T.StructField("text_hash", T.StringType(), True),
        T.StructField("batch_id", T.StringType(), True),
    ]
)

# The pipeline's one table (plans/pipeline.py `manifest/`): every manifest
# row plus the content of the doc it published, NULL on a row the run did
# not publish (a gate code, DUPLICATE, URL_BLOCKED). Always read with this
# schema, so no file's columns decide the table's.
OUT_TABLE_SCHEMA = T.StructType(
    MANIFEST_SCHEMA.fields[:-1]
    + [T.StructField(f.name, f.dataType, True) for f in DOCS_FULL_SCHEMA.fields
       if f.name not in MANIFEST_SCHEMA.names]
    + MANIFEST_SCHEMA.fields[-1:]
)
