"""Spark-side correctness: byte-identity vs kernel goldens, native-expression
twins, relational re-derivations (pagemerge window, chunk grouped-map)."""

import pandas as pd
from pyspark.sql import functions as F

from rag_pdf_parser_spark.functions import (
    anchor_expr,
    content_hash_expr,
    doc_id_expr,
    lang_expr,
    token_estimate_expr,
)
from rag_pdf_parser_spark.kernel import (
    chunk_blocks,
    detect_language,
    estimate_tokens,
)
from rag_pdf_parser_spark.operators.chunking import chunk_documents
from rag_pdf_parser_spark.operators.extract import explode_blocks, extract_docs
from rag_pdf_parser_spark.operators.metadata import doc_metadata, first_title, with_section
from rag_pdf_parser_spark.operators.pagemerge import assemble_text_native


def test_extraction_byte_identity(spark, pages_df, golden_docs):
    """THE gate (north_rule): per-url extracted text byte-identical to the
    pure-Python kernel oracle."""
    out = {r["url"]: r for r in extract_docs(pages_df).collect()}
    assert len(out) == len(golden_docs)
    for url, g in golden_docs.items():
        r = out[url]
        assert r["doc_id"] == g["doc_id"], url
        assert r["extracted_text"] == g["extracted_text"], url
        assert r["failure_code"] == g["failure_code"], url
        assert len(r["blocks"]) == len(g["blocks"]), url


def test_blocks_match_golden(spark, pages_df, golden_docs):
    blocks = {(r["url"], r["block_id"]): r
              for r in explode_blocks(extract_docs(pages_df)).collect()}
    for url, g in golden_docs.items():
        for gb in g["blocks"]:
            r = blocks[(url, gb["block_id"])]
            for k in ("type", "reading_order", "text", "markdown", "lang",
                      "span_start", "span_end", "anchor", "content_hash"):
                assert r[k] == gb[k], (url, gb["block_id"], k)


def test_lang_expr_matches_kernel(spark):
    texts = ["hello world", "안녕하세요 세계", "你好世界", "", "123", "ab cd 안녕",
             "mixed 안녕 text with more english words"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["l"] for r in df.select(lang_expr(F.col("text")).alias("l")).collect()]
    assert got == [detect_language(t) for t in texts]


def test_token_expr_matches_kernel(spark):
    texts = ["abcd", "a" * 101, "安安安", "安安安abcd", "", "mixed 안녕 text"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["n"] for r in df.select(token_estimate_expr(F.col("text")).alias("n")).collect()]
    assert got == [estimate_tokens(t) for t in texts]


def test_anchor_and_hash_exprs(spark):
    df = spark.createDataFrame(
        [(1, "text", 0, "hello"), (2, "table", 5, "world"), (3, "odd", 7, "x")],
        "page int, type string, ro int, text string",
    )
    rows = df.select(
        anchor_expr(F.col("page"), F.col("type"), F.col("ro")).alias("a"),
        content_hash_expr(F.col("text")).alias("h"),
    ).collect()
    import hashlib

    assert rows[0]["a"] == "[@p1_txt0]"
    assert rows[1]["a"] == "[@p2_tbl5]"
    assert rows[2]["a"] == "[@p3_odd7]"
    assert rows[0]["h"] == hashlib.sha256(b"hello").hexdigest()[:12]


def test_doc_id_expr_matches_kernel(spark, pages_df, golden_docs):
    rows = pages_df.select(
        "url", doc_id_expr(F.col("html")).alias("doc_id")
    ).collect()
    for r in rows:
        assert r["doc_id"] == golden_docs[r["url"]]["doc_id"]


def test_assemble_text_native_equals_kernel(spark, pages_df, golden_docs):
    """The window-based relational re-assembly (J4/W7/W8 as lead/lag +
    ordered concat) reproduces the kernel's sequential assembly byte-for-byte."""
    blocks = explode_blocks(extract_docs(pages_df))
    native = {r["url"]: r["extracted_text"]
              for r in assemble_text_native(blocks).collect()}
    for url, g in golden_docs.items():
        if g["blocks"]:
            assert native[url] == g["extracted_text"], url


def test_chunking_grouped_map_equals_kernel(spark, pages_df, golden_docs):
    blocks = explode_blocks(extract_docs(pages_df))
    got = {}
    for r in chunk_documents(blocks).collect():
        got.setdefault(r["doc_id"], []).append(r)
    for url, g in golden_docs.items():
        if not g["blocks"]:
            continue
        expect = chunk_blocks(g["blocks"], g["doc_id"])
        have = sorted(got[g["doc_id"]], key=lambda r: r["chunk_id"])
        expect = sorted(expect, key=lambda c: c["chunk_id"])
        assert len(have) == len(expect), url
        for h, e in zip(have, expect):
            assert h["text"] == e["text"], (url, h["chunk_id"])
            assert h["token_count"] == e["token_count"]
            assert list(h["block_ids"]) == e["block_ids"]
            assert h["section"] == e["section"]


def test_first_title_and_metadata(spark, pages_df, golden_docs):
    blocks = explode_blocks(extract_docs(pages_df))
    titles = {r["doc_id"]: r["title"] for r in first_title(blocks).collect()}
    meta = {r["doc_id"]: r for r in doc_metadata(blocks).collect()}
    for g in golden_docs.values():
        if g["title"] is not None:
            assert titles[g["doc_id"]] == g["title"]
        if g["blocks"]:
            m = meta[g["doc_id"]]
            assert m["total_blocks"] == len(g["blocks"])
            assert m["total_text_chars"] == sum(len(b["text"]) for b in g["blocks"])


def test_section_carry_forward(spark, pages_df, golden_docs):
    blocks = explode_blocks(extract_docs(pages_df))
    rows = with_section(blocks).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for g in golden_docs.values():
        if not g["blocks"]:
            continue
        have = sorted(by_doc[g["doc_id"]], key=lambda r: r["reading_order"])
        # python reimplementation of carry-forward
        cur = None
        for hb, gb in zip(have, g["blocks"]):
            if gb["type"] in ("title", "section_header"):
                cur = gb["text"]
            assert hb["section"] == cur


def test_determinism_across_partitionings(spark, pages_df):
    """SURVEY §5.5: same results regardless of parallelism/partitioning."""
    a = extract_docs(pages_df, partitions=2).select("url", "doc_id", "extracted_text")
    b = extract_docs(pages_df, partitions=11).select("url", "doc_id", "extracted_text")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_fused_chunks_equal_grouped_map(spark, pages_df):
    """extract_docs(chunks=True)'s fused chunking must equal the standalone
    applyInPandas chunker (same kernel, two plan shapes)."""
    from rag_pdf_parser_spark.operators.extract import explode_chunks

    docs_full = extract_docs(pages_df, chunks=True)
    fused = explode_chunks(docs_full).select(
        "chunk_id", "doc_id", "text", "token_count", "section"
    )
    blocks = explode_blocks(extract_docs(pages_df))
    grouped = chunk_documents(blocks).select(
        "chunk_id", "doc_id", "text", "token_count", "section"
    )
    assert fused.exceptAll(grouped).count() == 0
    assert grouped.exceptAll(fused).count() == 0


def test_salt_false_skips_shuffle(spark, pages_df):
    """Round-2 verdict #2: salt=False must NOT pay the defusal shuffle on
    either extraction path — pre-bucketed input (Iceberg bucketed at ingest)
    goes straight into the Arrow stage with no Exchange."""
    for chunks in (False, True):
        plan_unsalted = extract_docs(pages_df, salt=False, chunks=chunks) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan_unsalted, (chunks, plan_unsalted)
        plan_salted = extract_docs(pages_df, salt=True, chunks=chunks) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan_salted, chunks
    # and the fused output is identical either way
    full = extract_docs(pages_df, salt=True, chunks=True) \
        .select("url", "doc_id")
    unsalted = extract_docs(pages_df, salt=False, chunks=True) \
        .select("url", "doc_id")
    assert full.exceptAll(unsalted).count() == 0
    assert unsalted.exceptAll(full).count() == 0


def test_render_markdown_doc(spark, pages_df, golden_docs):
    """K1 sink: markdown doc per doc_id with page separators
    (writer.py:80-87 shape)."""
    from rag_pdf_parser_spark.operators.pagemerge import render_markdown_doc

    blocks = explode_blocks(extract_docs(pages_df))
    out = {r["doc_id"]: r["markdown_doc"]
           for r in render_markdown_doc(blocks).collect()}
    for g in golden_docs.values():
        if not g["blocks"]:
            continue
        md = out[g["doc_id"]]
        # every block's markdown appears, in reading order
        pos = -1
        for b in g["blocks"]:
            if not b["markdown"]:
                continue
            nxt = md.find(b["markdown"], pos + 1)
            assert nxt > pos, (g["doc_id"], b["block_id"])
            pos = nxt
        if g["n_pages"] > 1:
            assert "<!-- Page 2 -->" in md


def test_nested_lines_arrow_roundtrip(spark, pages_df, golden_docs):
    """SURVEY §7.4.3: the 3-deep nested lines structure
    (array<struct<start,end>> inside array<struct> blocks) must survive the
    Arrow boundary byte-exactly — explode through Spark, compare to kernel."""
    rows = explode_blocks(extract_docs(pages_df)).select(
        "url", "block_id", F.explode("lines").alias("l")
    ).select("url", "block_id", "l.start", "l.end").collect()
    got = {}
    for r in rows:
        got.setdefault((r["url"], r["block_id"]), []).append(
            (r["start"], r["end"]))
    for url, g in golden_docs.items():
        for gb in g["blocks"]:
            exp = [(l["start"], l["end"]) for l in gb["lines"]]
            if exp:
                assert got[(url, gb["block_id"])] == exp, (url, gb["block_id"])


def test_caption_and_metadata_through_spark(spark, pages_df, golden_docs):
    docs = {r["url"]: r for r in extract_docs(pages_df).collect()}
    n_caps = 0
    for url, g in golden_docs.items():
        r = docs[url]
        assert list(r["authors"] or []) == g["authors"], url
        assert r["parser_version"] == g["parser_version"]
        for rb, gb in zip(r["blocks"], g["blocks"]):
            assert rb["caption"] == gb["caption"], (url, gb["block_id"])
            n_caps += rb["caption"] is not None
    assert n_caps > 50  # figures/charts/tables/formulas carry captions


def test_embed_chunks_fills_slot(spark, pages_df):
    """chunks.embedding: null at chunking time, filled by the embedding
    stage (unit-norm hashed-BoW), excluded by the JSONL sink."""
    from rag_pdf_parser_spark.operators.chunking import chunks_jsonl, embed_chunks
    from rag_pdf_parser_spark.operators.extract import explode_chunks

    chunks = explode_chunks(extract_docs(pages_df, chunks=True))
    assert chunks.where(F.col("embedding").isNotNull()).count() == 0

    emb = embed_chunks(chunks)
    rows = emb.select(
        F.size("embedding").alias("d"),
        F.aggregate("embedding", F.lit(0.0),
                    lambda a, v: a + v.cast("double") * v.cast("double"))
        .alias("sq"),
    ).collect()
    assert all(r["d"] == 32 for r in rows)
    assert all(abs(r["sq"] - 1.0) < 1e-5 for r in rows)
    assert "embedding" not in chunks_jsonl(emb).columns
