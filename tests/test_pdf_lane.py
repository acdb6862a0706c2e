"""PDF lane: pure-stdlib PDF text extraction + XY-cut reading order, plus
the per-row kernel choice inside the one extraction stage (SURVEY §2.9)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rag_pdf_parser_spark.kernel.pdfx import extract_pdf_document, make_pdf
from rag_pdf_parser_spark.operators.extract import extract_docs
from rag_pdf_parser_spark.schema import CHUNK_STRUCT, PAGES_SCHEMA


class TestPdfKernel:
    def test_all_synthetic_pdfs_parse(self):
        for i in range(60):
            d = extract_pdf_document(make_pdf(i))
            assert d["failure_code"] is None, i
            assert d["title"] is not None
            assert any(b["type"] == "title" for b in d["blocks"])
            # NOTE: the title is not always block 0 — the reference's
            # XY-cut recursion halves the width on recursion
            # (extractor.py:349), which we reproduce verbatim; a nested
            # split can bucket a centered title into the right column.

    def test_failure_codes(self):
        assert extract_pdf_document(b"")["failure_code"] == "EMPTY_PDF"
        assert extract_pdf_document(b"nope")["failure_code"] == "NOT_PDF"
        assert extract_pdf_document(b"%PDF-1.4 garbage")["failure_code"] == "NO_CONTENT"

    def test_deterministic(self):
        assert extract_pdf_document(make_pdf(9)) == extract_pdf_document(make_pdf(9))

    def test_reading_order_top_down(self):
        d = extract_pdf_document(make_pdf(0))  # doc 0: single-column layout
        orders = [b["reading_order"] for b in d["blocks"]]
        assert orders == sorted(orders)
        # title (placed topmost, 20pt) leads a single-column page
        assert d["blocks"][0]["type"] == "title"

    def test_spans_valid(self):
        for i in range(25):
            d = extract_pdf_document(make_pdf(i))
            for b in d["blocks"]:
                assert d["extracted_text"][b["span_start"]:b["span_end"]] == b["text"]

    def test_flate_and_plain_streams_both_supported(self):
        # generator emits ~half FlateDecode; all must parse
        flate = plain = 0
        for i in range(40):
            raw = make_pdf(i)
            if b"FlateDecode" in raw:
                flate += 1
            else:
                plain += 1
            assert extract_pdf_document(raw)["failure_code"] is None
        assert flate > 5 and plain > 5


def test_dispatch_mixed_corpus(spark):
    """One table mixing HTML and PDF rows → ONE mapInArrow extraction stage
    (no pandas boundary), per-row kernel selection (byte-sniffed), identical
    to per-kernel goldens; with chunks=True both lanes are chunked in that
    same stage."""
    from rag_pdf_parser_spark.datagen import make_pages
    from rag_pdf_parser_spark.kernel import extract_document
    from rag_pdf_parser_spark.kernel.chunker import chunk_blocks

    html_pages = make_pages(30)
    rows = [(p["url"], None, p["html"], "", "en") for p in html_pages]
    rows += [(f"pdf://doc/{i}", None, make_pdf(i), "", "en") for i in range(30)]
    pdf_df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(pdf_df, schema=PAGES_SCHEMA)

    docs = extract_docs(pages)
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan

    out = {r["url"]: r for r in docs.collect()}
    assert len(out) == 60
    for p in html_pages:
        g = extract_document(p["html"])
        assert out[p["url"]]["extracted_text"] == g["extracted_text"]
        assert out[p["url"]]["doc_id"] == g["doc_id"]
    for i in range(30):
        g = extract_pdf_document(make_pdf(i))
        r = out[f"pdf://doc/{i}"]
        assert r["extracted_text"] == g["extracted_text"]
        assert r["charset"] == "binary"
        assert len(r["blocks"]) == len(g["blocks"])

    fields = [f.name for f in CHUNK_STRUCT.fields]
    full = {r["url"]: r for r in extract_docs(pages, chunks=True).collect()}
    for i in range(30):
        g = extract_pdf_document(make_pdf(i))
        want = [{k: c[k] for k in fields}
                for c in chunk_blocks(g["blocks"], g["doc_id"])]
        got = [c.asDict(recursive=True)
               for c in full[f"pdf://doc/{i}"]["chunks"]]
        assert want and got == want, i
