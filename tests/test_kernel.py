"""Kernel unit tests — mirror the reference's test granularity
(SURVEY §5: tests/test_pipeline.py anchor/chunk/config suites) but tightened
to exact equality."""

import pytest

from rag_pdf_parser_spark.datagen import make_pages
from rag_pdf_parser_spark.kernel import (
    ChunkingConfig,
    chunk_blocks,
    detect_language,
    estimate_tokens,
    extract_document,
    merge_kind,
)
from rag_pdf_parser_spark.kernel.htmlx import anchor_for, decode_html


class TestLang:
    # thresholds per /root/reference/src/text/extractor.py:358-387
    def test_en(self):
        assert detect_language("hello world this is english") == "en"

    def test_ko(self):
        assert detect_language("안녕하세요") == "ko"

    def test_zh(self):
        assert detect_language("你好世界") == "zh"

    def test_empty_and_nonalpha(self):
        assert detect_language("") == "unknown"
        assert detect_language("12345 !!!") == "unknown"

    def test_mixed_threshold(self):
        # 2 hangul vs 4 ascii → 2/6 = 0.33 > 0.3 → ko
        assert detect_language("ab cd 안녕") == "ko"


class TestTokens:
    # int(cjk/1.5 + other/4), /root/reference/src/models/chunk.py:102-108
    def test_ascii(self):
        assert estimate_tokens("abcd") == 1
        assert estimate_tokens("a" * 100) == 25

    def test_cjk(self):
        assert estimate_tokens("安安安") == 2  # 3/1.5

    def test_mixed(self):
        # 3 cjk + 4 other → 2 + 1 = 3
        assert estimate_tokens("安安安abcd") == 3


class TestAnchor:
    # [@p{page}_{abbrev}{order}], /root/reference/src/models/block.py:62-70
    def test_known_types(self):
        assert anchor_for(1, "text", 0) == "[@p1_txt0]"
        assert anchor_for(2, "table", 5) == "[@p2_tbl5]"
        assert anchor_for(3, "formula", 1) == "[@p3_eq1]"

    def test_fallback(self):
        assert anchor_for(1, "weird", 9) == "[@p1_wei9]"


class TestDecode:
    def test_empty(self):
        assert decode_html(b"") == ("", "utf-8", "EMPTY_HTML")

    def test_charset_sniff(self):
        raw = '<meta charset="euc-kr"><p>한글</p>'.encode("euc-kr")
        text, cs, fail = decode_html(raw)
        assert cs == "euc-kr" and "한글" in text and fail is None

    def test_unknown_charset_falls_back(self):
        text, cs, fail = decode_html(b'<meta charset="klingon"><p>x</p>')
        assert cs == "utf-8"

    def test_deterministic_replacement(self):
        raw = b'<meta charset="utf-8"><p>\xff\xfe broken</p>'
        t1 = decode_html(raw)
        t2 = decode_html(raw)
        assert t1 == t2


class TestMergeRule:
    def test_hyphen(self):
        assert merge_kind("hyphen-", "ated") == "hyphen"

    def test_open_clause(self):
        assert merge_kind("ends low", "continues") == "space"

    def test_no_merge_capital(self):
        assert merge_kind("ends low", "New sentence") is None

    def test_no_merge_period(self):
        assert merge_kind("sentence.", "next") is None


class TestExtraction:
    def test_boilerplate_stripped(self):
        html = (
            b"<html><body><nav><ul><li><a href='/x'>menu</a></li></ul></nav>"
            b"<header><p>chrome</p></header>"
            b"<h1>Real Title</h1><p>Real content paragraph here.</p>"
            b"<footer><p>copyright</p></footer></body></html>"
        )
        d = extract_document(html)
        assert d["title"] == "Real Title"
        texts = [b["text"] for b in d["blocks"]]
        assert "Real content paragraph here." in texts
        assert all("chrome" not in t and "copyright" not in t and "menu" not in t
                   for t in texts)

    def test_link_density_filter(self):
        html = (
            b"<html><body><h1>T</h1>"
            b"<p><a href='/1'>link link link link</a> x</p>"
            b"<p>normal paragraph with plenty of plain text</p></body></html>"
        )
        d = extract_document(html)
        texts = [b["text"] for b in d["blocks"]]
        assert "normal paragraph with plenty of plain text" in texts
        assert not any("link link" in t for t in texts)

    def test_table_markdown(self):
        html = (
            b"<html><body><table><tr><th>a</th><th>b</th></tr>"
            b"<tr><td colspan='2'>wide</td></tr>"
            b"<tr><td>1</td><td>2</td></tr></table></body></html>"
        )
        d = extract_document(html)
        tbl = [b for b in d["blocks"] if b["type"] == "table"][0]
        lines = tbl["markdown"].split("\n")
        assert lines[0] == "| a | b |"
        assert lines[1] == "| --- | --- |"
        assert lines[2] == "| wide |  |"  # colspan padding
        assert lines[3] == "| 1 | 2 |"

    def test_page_merge_in_assembly(self):
        html = (
            b"<html><body>"
            b"<div class='page'><p>This is hyphen-</p></div>"
            b"<div class='page'><p>ated text.</p></div>"
            b"</body></html>"
        )
        d = extract_document(html)
        assert "hyphenated text." in d["extracted_text"]
        assert d["n_pages"] == 2

    def test_failure_codes(self):
        assert extract_document(b"")["failure_code"] == "EMPTY_HTML"
        assert extract_document(b"<html><body></body></html>")["failure_code"] == "NO_CONTENT"

    def test_spans_point_into_extracted_text(self):
        for p in make_pages(40):
            d = extract_document(p["html"])
            for b in d["blocks"]:
                frag = d["extracted_text"][b["span_start"]:b["span_end"]]
                # hyphen-merge can alter one char of a merged block's tail;
                # require ≥ full match for all non-boundary blocks
                assert frag == b["text"] or b["text"].startswith(frag[:-1])

    def test_deterministic(self):
        pages = make_pages(30)
        a = [extract_document(p["html"]) for p in pages]
        b = [extract_document(p["html"]) for p in pages]
        assert a == b


class TestChunker:
    def _mk(self, i, text, btype="text", page=1):
        return {
            "page": page, "block_id": f"p{page}_b{i}", "type": btype,
            "reading_order": i, "text": text, "markdown": text,
            "anchor": f"[@p{page}_txt{i}]",
        }

    def test_empty(self):
        assert chunk_blocks([], "d" * 16) == []

    def test_single_small_doc(self):
        blocks = [self._mk(0, "short text")]
        chunks = chunk_blocks(blocks, "abcdefgh12345678")
        assert len(chunks) == 1
        assert chunks[0]["chunk_id"] == "abcdefgh_c0"
        assert chunks[0]["text"] == "short text"

    def test_section_flush_at_min_boundary(self):
        # chunking.py:54-77 — header flushes only if >= min_chunk_size tokens
        cfg = ChunkingConfig(chunk_size=100, min_chunk_size=10,
                             max_chunk_size=200, overlap_tokens=0)
        small = [self._mk(0, "tiny")]  # 1 token < min → no flush on header
        blocks = small + [self._mk(1, "Header", "section_header"),
                          self._mk(2, "x" * 400)]
        chunks = chunk_blocks(blocks, "d" * 16, cfg)
        assert len(chunks) == 1  # nothing flushed before header

        big = [self._mk(0, "y" * 100)]  # 25 tokens >= min → flush on header
        blocks = big + [self._mk(1, "Header", "section_header"),
                        self._mk(2, "z" * 100)]
        chunks = chunk_blocks(blocks, "d" * 16, cfg)
        assert len(chunks) == 2
        assert chunks[1]["section"] == "Header"

    def test_max_size_force_break(self):
        cfg = ChunkingConfig(chunk_size=50, min_chunk_size=10,
                             max_chunk_size=60, overlap_tokens=0)
        blocks = [self._mk(i, "w" * 100) for i in range(5)]  # 25 tokens each
        chunks = chunk_blocks(blocks, "d" * 16, cfg)
        # 25,50→no (blank-check fails, <max), 75>=60 → force break, etc.
        assert len(chunks) >= 2
        assert all(c["token_count"] <= 100 for c in chunks)

    def test_overlap_reseed(self):
        # chunking.py:183-204 — trailing blocks totaling <= overlap re-seed
        cfg = ChunkingConfig(chunk_size=40, min_chunk_size=5,
                             max_chunk_size=40, overlap_tokens=10)
        blocks = [self._mk(i, "v" * 40) for i in range(6)]  # 10 tokens each
        chunks = chunk_blocks(blocks, "d" * 16, cfg)
        assert len(chunks) >= 2
        # consecutive chunks share exactly the overlap block
        assert chunks[0]["block_ids"][-1] == chunks[1]["block_ids"][0]

    def test_chunk_ids_sequential(self):
        cfg = ChunkingConfig(chunk_size=20, min_chunk_size=1,
                             max_chunk_size=20, overlap_tokens=0)
        blocks = [self._mk(i, "u" * 40) for i in range(4)]
        chunks = chunk_blocks(blocks, "abcdefgh" + "x" * 8, cfg)
        assert [c["chunk_id"] for c in chunks] == [
            f"abcdefgh_c{i}" for i in range(len(chunks))
        ]


class TestXxHashTwin:
    """kernel.xxh must equal Spark's xxhash64 bit-for-bit — it anchors the
    independent golden oracles for the xx-flavor fast paths."""

    STRS = ["", "a", "hello", "12345678", "0123456789abcdef", "x" * 31,
            "y" * 32, "z" * 100, "한국어 텍스트 테스트", "中文测试字符串",
            "the quick brown fox jumps over the lazy dog!"]

    def test_strings_all_length_classes(self, spark):
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.kernel.xxh import spark_xxhash64

        df = spark.createDataFrame([(s,) for s in self.STRS], "s string")
        got = {r["s"]: r["h"]
               for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
        for s in self.STRS:
            assert got[s] == spark_xxhash64(s), repr(s)

    def test_chained_string_int_and_long(self, spark):
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.kernel.xxh import i32, spark_xxhash64

        rows = [(s, j) for s in self.STRS[:5] for j in (0, 1, 7, -3)]
        df = spark.createDataFrame(rows, "s string, j long")
        for r in df.select(
            "s", "j",
            F.xxhash64("s", F.col("j").cast("int")).alias("h_int"),
            F.xxhash64("s", "j").alias("h_long"),
        ).collect():
            assert r["h_int"] == spark_xxhash64(r["s"], i32(r["j"]))
            assert r["h_long"] == spark_xxhash64(r["s"], r["j"])

    def test_longs(self, spark):
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.kernel.xxh import spark_xxhash64

        vals = [0, 1, -1, 2 ** 62, -(2 ** 63), 424242]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {r["v"]: r["h"]
               for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
        for v in vals:
            assert got[v] == spark_xxhash64(v)


class TestPipelineTwins:
    """Whole-pipeline pure-Python twins equal the Spark fast paths."""

    def test_minhash_lsh_xx_twin(self, spark):
        from rag_pdf_parser_spark.kernel.twins import lsh_pairs_xx
        from rag_pdf_parser_spark.operators.dedup import lsh_candidate_pairs

        sdf = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).where("doc_id < 60")
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(sdf, id_col="doc_id",
                                         flavor="xx").collect()
        )
        docs = sorted(
            (r["doc_id"], r["text"]) for r in sdf.select("doc_id", "text").collect()
        )
        assert got == lsh_pairs_xx(docs)

    def test_simhash64_twin(self, spark):
        from rag_pdf_parser_spark.kernel.twins import simhash64
        from rag_pdf_parser_spark.operators.dedup import simhash

        sdf = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).where("doc_id < 60")
        got = {r["doc_id"]: r["simhash"]
               for r in simhash(sdf).select("doc_id", "simhash").collect()}
        for d, t in [(r["doc_id"], r["text"])
                     for r in sdf.select("doc_id", "text").collect()]:
            assert got[d] == simhash64(t), d


class TestCaptionsLinesMetadata:
    """M3/M5 caption rules, ocr_lines-analog line spans, doc metadata."""

    HTML = (b"<html><head><meta charset=\"utf-8\">"
            b"<meta name=\"author\" content=\"Ada Lovelace\">"
            b"<meta name=\"author\" content=\"Alan Turing\">"
            b"<title>t</title></head><body>"
            b"<h1>Main Title</h1>"
            b"<h2>Results Section</h2>"
            b"<p>some paragraph text here</p>"
            b"<table><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>"
            b"<figure><img src='/img/x.png' alt='a nice diagram'>"
            b"<figcaption>Fig caption text</figcaption></figure>"
            b"<figure><img src='/img/sales-chart.png' alt='sales chart'></figure>"
            b"<pre>$$ e = mc^2 $$</pre>"
            b"</body></html>")

    def _doc(self):
        from rag_pdf_parser_spark.kernel.htmlx import extract_document

        return extract_document(self.HTML)

    def test_authors_and_version(self):
        d = self._doc()
        assert d["authors"] == ["Ada Lovelace", "Alan Turing"]
        assert d["parser_version"].startswith("rps-")

    def test_chart_reclassification(self):
        types = [b["type"] for b in self._doc()["blocks"]]
        assert "figure" in types and "chart" in types

    def test_caption_templates(self):
        caps = {b["type"]: b["caption"] for b in self._doc()["blocks"]}
        # per-type template: Label k: descriptor — nearest heading (vlm.py:20-76 slot)
        assert caps["figure"] == "Figure 1: Fig caption text — Results Section"
        assert caps["chart"] == "Chart 1: sales chart — Results Section"
        assert caps["table"] == "Table 1: 2x2 — Results Section"
        assert caps["formula"].startswith("Formula 1: $$ e = mc^2 $$")
        assert caps["title"] is None and caps["text"] is None

    def test_line_spans_invariants(self):
        d = self._doc()
        text = d["extracted_text"]
        for b in d["blocks"]:
            prev_end = None
            assert b["lines"], b["block_id"]
            for l in b["lines"]:
                assert b["span_start"] <= l["start"] < l["end"] <= b["span_end"]
                if prev_end is not None:
                    assert l["start"] > prev_end  # ordered, non-overlapping
                prev_end = l["end"]
            # multi-line blocks (table) split on newlines; slices match
            if b["span_end"] - b["span_start"] == len(b["text"]):
                for l in b["lines"]:
                    seg = text[l["start"]:l["end"]]
                    assert seg in b["text"]
        table = next(b for b in d["blocks"] if b["type"] == "table")
        assert len(table["lines"]) == 2  # header row + data row


class TestAvgHash:
    def test_perceptual_property(self):
        from rag_pdf_parser_spark.kernel.imagex import (
            avg_hash_64,
            fake_decode_gray,
        )

        base = ("lorem ipsum dolor sit amet " * 200).encode()
        near = ("lorem ipsum dolor sit amet " * 199
                + "lorem ipsum dolor sit amxt ").encode()
        far = ("completely different content 123 " * 170).encode()

        def ham(a, b):
            return bin(int(a, 16) ^ int(b, 16)).count("1")

        h_base = avg_hash_64(fake_decode_gray(base))
        h_near = avg_hash_64(fake_decode_gray(near))
        h_far = avg_hash_64(fake_decode_gray(far))
        assert ham(h_base, h_near) <= 8
        assert ham(h_base, h_far) > 8

    def test_known_matrix(self):
        from rag_pdf_parser_spark.kernel.imagex import avg_hash_64

        # top half bright, bottom half dark → first 32 bits set
        px = [200] * (64 * 32) + [10] * (64 * 32)
        assert avg_hash_64(px) == "ffffffff00000000"


class TestFastTokenizer:
    """The fast HTML tokenizer must be tree-equal to the stdlib
    HTMLParser builder (its bailout fallback) — same tag/attr grammar via
    the stdlib's own tolerant regexes; equality asserted over the datagen
    corpus, adversarial snippets, and a structured random fuzz sweep."""

    @staticmethod
    def _norm(node):
        kids, buf = [], []
        for c in node.children:
            if isinstance(c, str):
                buf.append(c)
            else:
                if buf:
                    kids.append("".join(buf))
                    buf = []
                kids.append(TestFastTokenizer._norm(c))
        if buf:
            kids.append("".join(buf))
        return (node.tag, tuple(sorted(node.attrs.items())), tuple(kids))

    def _check(self, text):
        from rag_pdf_parser_spark.kernel import htmlx

        try:
            fast = htmlx._fast_tree(text)
        except htmlx._FastBailout:
            return 0  # falls back to the stdlib path — exact by definition
        std = htmlx.parse_tree_stdlib(text)
        assert self._norm(fast) == self._norm(std), repr(text[:200])
        return 1

    def test_datagen_corpus_tree_equal(self):
        from rag_pdf_parser_spark.datagen import make_pages
        from rag_pdf_parser_spark.kernel.htmlx import decode_html

        handled = sum(self._check(decode_html(p["html"])[0])
                      for p in make_pages(600))
        # the fast path must actually be the common path, not a stub
        assert handled >= 540, handled

    def test_adversarial_snippets_tree_equal(self):
        samples = [
            "a < b and c > d", "<p>x &amp; y &lt;3 &nbsp;</p>",
            "<p class='a' id=b data->x</p>", "<br/><img src='x'/>",
            "<div/>leaf</div>after",
            "<script>if (a<b) {x='</div>'}</script><p>t</p>",
            "<style>a>b{}</style>", "<!-- comment -->text<!doctype html>",
            "<?php echo ?>t", "<p>unclosed <em>nested", "</bogus attr=1>",
            "</>", "<p att=\"a&quot;b\">t</p>", "<P ATTR=VaL>t</P>",
            "<p>trailing &", "<p>&notareal;x</p>", "< p>not tag</ p>",
            "text<", "<!--unterminated", "<script>never closed",
            "<td colspan=2>x", "<p>&amp", "<a href=x>l</a>",
            "\x00weird<p>\x01</p>", "<p = >x</p>", "<p//>x",
            # non-ASCII after '<' is DATA (stdlib starttagopen is ASCII)
            "<p>prix <\u00e9co> reduced</p>", "<\u4e2d>x</\u4e2d>",
            # stdlib comment close is '--\\s*>' not the literal '-->'
            "<p>a<!-- c -- >tail--></p>",
            # r4 simple-tag fast-regex boundaries: it must accept ONLY the
            # unambiguous subset and defer the rest to the mirror path
            '<p class="a">x</p>', '<p  class="a"  >x</p>',
            '<a href="x&amp;y">z</a>', '<p class="a"b="c">x</p>',
            '<p / >x', '<p/>x', '<p class="">x</p>', '<p CLASS="A">x</p>',
            '<x-y a="1">t</x-y>', '<p a="<">x</p>',
            '<p data-x:y.z="1">q</p>', '<img src="u" alt="a"/>',
            '<p ="v">x</p>', '<p a="1" a="2">x</p>', '<p a="1"',
        ]
        for s in samples:
            self._check(s)

    def test_random_fuzz_tree_equal(self):
        import random

        rng = random.Random(7)
        frags = ["<p>", "</p>", "<div class='x'>", "</div>", "text&amp;",
                 "<", ">", "&", "<!--c-->", "<br/>", "<script>", "</script>",
                 "x y z", "<img src=a alt='b'>", "</ul>", "<ul><li>i</li>",
                 "&lt;", "<h2>t</h2>", "<?pi?>", "<!decl>", "'", '"', "=",
                 "/", "<table><tr><td>c</td></tr></table>"]
        for _ in range(1500):
            s = "".join(rng.choice(frags)
                        for _ in range(rng.randint(1, 30)))
            self._check(s)


class TestRepetitionCounts:
    """kernel.repetition.repetition_counts: (top 2/3/4-gram chars, dup
    5..10-gram chars, dup paragraphs, dup paragraph chars, paragraphs)."""

    @staticmethod
    def counts(text):
        from rag_pdf_parser_spark.kernel.repetition import repetition_counts

        return repetition_counts(text.lower().split(), text)

    def test_repeated_bigram_doc(self):
        # bigrams 'ab cd'×4 'cd ab'×3; trigrams tie at 3 → 'ab cd ab';
        # 4-grams 'ab cd ab cd'×3; 5-grams two distinct ×2 (14 chars
        # each); 6-grams 'ab cd ab cd ab cd'×2; no repeated 7-gram
        assert self.counts("ab cd ab cd ab cd ab cd") == (
            20, 24, 33, 28, 17, 0, 0, 0, 0, 0, 0, 1)

    def test_no_repetition(self):
        assert self.counts("aa bb cc dd ee ff gg hh ii jj") == (
            5, 8, 11, 0, 0, 0, 0, 0, 0, 0, 0, 1)

    def test_duplicate_paragraphs(self):
        # bigrams 'para one'×2 and 'one here'×2 tie → 'one here';
        # 3 paragraphs, 'para one here' (13 chars) once duplicated
        assert self.counts("para one here\n\npara one here\n\nunique tail") \
            == (16, 26, 18, 0, 0, 0, 0, 0, 0, 1, 13, 3)

    def test_tie_goes_to_smallest_gram(self):
        # every bigram occurs once: the top is 'a b', not the first
        # ('zz yy') or the longest
        assert self.counts("zz yy a b")[:3] == (3, 6, 9)

    def test_empty_and_null(self):
        from rag_pdf_parser_spark.kernel.repetition import repetition_counts

        assert repetition_counts([], "") == (0,) * 12
        assert repetition_counts([], None) == (0,) * 12

    def test_paragraphs_trim_spaces_only(self):
        # pieces '  a b  ', ' a b', '', 'a b ', '\n': Spark's trim strips
        # spaces only, so the lone '\n' is a paragraph of its own
        got = self.counts("  a b  \n\n a b\n\n\n\na b \n\n\n")
        assert got[-3:] == (2, 6, 4)


def test_map_rows_carries_columns_as_arrow():
    """`map_rows(carry=k)` passes the first k columns through untouched and
    hands `fn` only the rest; a row count mismatch is an error."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from rag_pdf_parser_spark.operators.arrowmap import map_rows

    nested = pa.array([[{"t": "x"}], None, []],
                      type=pa.list_(pa.struct([("t", pa.string())])))
    batch = pa.RecordBatch.from_arrays(
        [nested, pa.array(["a b", None, ""])], names=["blocks", "text"])
    schema = T.StructType([
        T.StructField("blocks", T.ArrayType(T.StructType(
            [T.StructField("t", T.StringType())]))),
        T.StructField("text", T.StringType()),
        T.StructField("n", T.LongType())])

    def count(text):
        yield text, len((text or "").split())

    (out,) = map_rows(count, schema, carry=1)(iter([batch]))
    addresses = lambda a: [b.address for b in a.buffers() if b]  # noqa: E731
    assert addresses(out.column(0)) == addresses(batch.column(0))  # no copy
    assert out.to_pydict() == {"blocks": [[{"t": "x"}], None, []],
                               "text": ["a b", None, ""], "n": [2, 0, 0]}

    def none(text):
        return ()

    with pytest.raises(ValueError):
        list(map_rows(none, schema, carry=1)(iter([batch])))
