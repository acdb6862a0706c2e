"""Property-based tests (hypothesis) — invariants the reference never
checked (SURVEY §5: 'no property-based tests' in the reference)."""

import re

from pyspark.sql import functions as F

from hypothesis import given, settings
from hypothesis import strategies as st

from rag_pdf_parser_spark.kernel import (
    ChunkingConfig,
    chunk_blocks,
    detect_language,
    estimate_tokens,
    extract_document,
)
from rag_pdf_parser_spark.kernel.htmlx import decode_html
from rag_pdf_parser_spark.kernel.mdseg import segment_markdown

TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",)
    ),
    max_size=300,
)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_lang_detect_total_and_deterministic(s):
    out = detect_language(s)
    assert out in ("ko", "zh", "en", "unknown")
    assert detect_language(s) == out


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_token_estimate_bounds(s):
    n = estimate_tokens(s)
    assert 0 <= n <= len(s)  # cjk/1.5 and other/4 both <= 1 token per char


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2000))
def test_extract_never_raises_and_is_deterministic(raw):
    a = extract_document(raw)
    b = extract_document(raw)
    assert a == b
    assert a["doc_id"] == b["doc_id"] and len(a["doc_id"]) == 16
    # blocks always carry consistent reading order 0..n-1
    assert [blk["reading_order"] for blk in a["blocks"]] == list(
        range(len(a["blocks"]))
    )


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=1000))
def test_decode_total(raw):
    text, charset, failure = decode_html(raw)
    assert isinstance(text, str)
    assert failure in (None, "EMPTY_HTML", "OVERSIZE_TRUNCATED")


_BLOCK_TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    min_size=1, max_size=120,
).filter(lambda s: s.strip())


@st.composite
def block_lists(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    blocks = []
    for i in range(n):
        btype = draw(st.sampled_from(
            ["text", "text", "text", "section_header", "title", "table"]))
        text = draw(_BLOCK_TEXT)
        blocks.append({
            "page": 1 + i // 10,
            "block_id": f"p{1 + i // 10}_b{i}",
            "type": btype,
            "reading_order": i,
            "text": text,
            "markdown": text,
            "anchor": f"[@p{1 + i // 10}_x{i}]",
        })
    return blocks


@settings(max_examples=150, deadline=None)
@given(block_lists(), st.integers(min_value=5, max_value=60),
       st.integers(min_value=0, max_value=10))
def test_chunker_invariants(blocks, chunk_size, overlap):
    cfg = ChunkingConfig(chunk_size=chunk_size, overlap_tokens=overlap,
                         min_chunk_size=2, max_chunk_size=chunk_size * 2)
    chunks = chunk_blocks(blocks, "d" * 16, cfg)
    assert chunks, "non-empty input must yield at least one chunk"
    all_ids = [b["block_id"] for b in blocks]
    covered = set()
    prev_order_start = -1
    for i, c in enumerate(chunks):
        assert c["chunk_id"] == f"dddddddd_c{i}"
        assert c["block_ids"], "chunks are never empty"
        assert set(c["block_ids"]) <= set(all_ids)
        assert c["reading_order_start"] <= c["reading_order_end"]
        assert c["reading_order_start"] >= prev_order_start
        prev_order_start = c["reading_order_start"]
        assert c["char_count"] == len(c["text"])
        covered.update(c["block_ids"])
    # every block lands in some chunk (overlap may duplicate, never drop)
    assert covered == set(all_ids)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=500))
def test_mdseg_total_and_ordered(md):
    blocks = segment_markdown(md)
    assert [b["reading_order"] for b in blocks] == list(range(len(blocks)))
    for b in blocks:
        assert b["type"] in ("text", "title", "section_header", "table",
                             "figure", "formula")
    # non-whitespace input yields at least one block when it has a
    # non-table, non-blank line
    if any(ln.strip() and not re.match(r"^\|[\s\-|]+\|$", ln.strip())
           for ln in md.split("\n")):
        assert blocks


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=3000))
def test_lines_and_captions_invariants(raw):
    """Round-2 fields: line spans ordered/contained; captions only on
    visual/structural types and well-formed."""
    d = extract_document(raw)
    for b in d["blocks"]:
        prev_end = None
        for l in b["lines"]:
            assert b["span_start"] <= l["start"] < l["end"], b["block_id"]
            assert l["end"] <= b["span_end"]
            if prev_end is not None:
                assert l["start"] > prev_end
            prev_end = l["end"]
        if b["type"] in ("figure", "chart", "table", "formula"):
            assert b["caption"] and b["caption"][0].isupper()
        else:
            assert b["caption"] is None
    assert isinstance(d["authors"], list)
    assert d["parser_version"]


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=500))
def test_avg_hash_total_and_stable(raw):
    from rag_pdf_parser_spark.kernel.imagex import avg_hash_64, fake_decode_gray

    px = fake_decode_gray(raw)
    assert len(px) == 64 * 64 and all(0 <= v <= 255 for v in px)
    h = avg_hash_64(px)
    assert len(h) == 16 and int(h, 16) >= 0
    assert avg_hash_64(fake_decode_gray(raw)) == h


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=200), st.text(max_size=200))
def test_xxh_twin_never_collides_with_type_confusion(a, b):
    """spark_xxhash64 is a pure function; equal inputs hash equal, and the
    chained form differs from the single form unless by (rare) collision."""
    from rag_pdf_parser_spark.kernel.xxh import spark_xxhash64

    assert spark_xxhash64(a) == spark_xxhash64(a)
    assert spark_xxhash64(a, b) == spark_xxhash64(a, b)


class TestGopherQuality:
    """Gopher/C4 quality expressions (the driver query webtext_quality
    has a full DuckDB twin)."""

    def test_gopher_keep_sanity(self, spark):
        from rag_pdf_parser_spark.functions import gopher_features_expr

        df = spark.createDataFrame(
            [(0, "The quick brown fox jumps over the lazy dog. " * 12),
             (1, "# # # spam " * 30),
             (2, "short text")],
            "i int, text string")
        feats = gopher_features_expr(F.col("text"))
        rows = {r["i"]: r for r in df.select(
            "i", *[c.alias(k) for k, c in feats.items()]).collect()}
        assert rows[0]["gopher_keep"] is True, rows[0]
        # symbol-ratio and repetition kill the spam doc
        assert rows[1]["gopher_keep"] is False, rows[1]
        assert rows[1]["top_bigram_frac"] > 0.2 or \
            rows[1]["symbol_word_ratio"] >= 0.1
        # too short
        assert rows[2]["gopher_keep"] is False


def test_round_half_up_twin_matches_spark(spark):
    """kernel.twins.round_half_up claims Spark F.round semantics
    (BigDecimal HALF_UP over the shortest decimal repr). Verify over
    adversarial values — halfway points, float-noise neighbors, negatives,
    and pseudo-random cosines — in one batched DataFrame pass."""
    import random

    from rag_pdf_parser_spark.kernel.twins import round_half_up

    vals = [0.12345, 0.123450000001, 0.123449999999, -0.12345, 0.99995,
            -0.99995, 0.5e-4, 1.00005, 0.0, 1.0, -1.0, 0.93215, 0.93225]
    rng = random.Random(3)
    vals += [rng.uniform(-1, 1) for _ in range(500)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i int, v double")
    got = {r["i"]: r["r"] for r in df.select(
        "i", F.round("v", 4).alias("r")).collect()}
    bad = [(v, got[i], round_half_up(v, 4)) for i, v in enumerate(vals)
           if got[i] != round_half_up(v, 4)]
    assert not bad, bad[:5]


def test_float32_and_cosine_twins_match_spark(spark):
    """The other legs of the chunk-knn golden: _f32 must equal Spark's
    float cast bit-for-bit, and cosine_seq must equal cosine_expr exactly
    (same IEEE operation order) over random float32 vectors."""
    import random

    from rag_pdf_parser_spark.functions import cosine_expr
    from rag_pdf_parser_spark.kernel.twins import _f32, cosine_seq

    rng = random.Random(9)
    vals = [rng.uniform(-10, 10) for _ in range(300)] + [0.1, 1e-40, -1e-40]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i int, v double")
    got = {r["i"]: r["f"] for r in df.select(
        "i", F.col("v").cast("float").cast("double").alias("f")).collect()}
    bad = [(v, got[i], _f32(v)) for i, v in enumerate(vals)
           if got[i] != _f32(v)]
    assert not bad, bad[:5]

    vecs = [([rng.uniform(-1, 1) for _ in range(32)],
             [rng.uniform(-1, 1) for _ in range(32)]) for _ in range(50)]
    vdf = spark.createDataFrame(
        [(i, [_f32(x) for x in a], [_f32(x) for x in b])
         for i, (a, b) in enumerate(vecs)],
        "i int, a array<float>, b array<float>")
    gotc = {r["i"]: r["c"] for r in vdf.select(
        "i", cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()}
    badc = [i for i, (a, b) in enumerate(vecs)
            if gotc[i] != cosine_seq([_f32(x) for x in a],
                                     [_f32(x) for x in b])]
    assert not badc, badc[:5]


def test_hash_embedding_twin_matches_spark(spark):
    """hash_embedding + l2_normalize twins vs the Spark expressions over
    adversarial strings (unicode ws, CJK, empties, repeated tokens)."""
    from rag_pdf_parser_spark.functions import (hash_embedding_expr,
                                                l2_normalize_expr)
    from rag_pdf_parser_spark.kernel.twins import (hash_embedding,
                                                   l2_normalize_f32)

    texts = ["hello world hello", "  spaced\t tokens \n lines ",
             "数据 引擎 data 数据", "", "one", "a " * 100,
             "MiXeD CaSe MIXED case", "punct, here! and; there?"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    vec = F.transform(l2_normalize_expr(hash_embedding_expr(F.col("text"))),
                      lambda v: v.cast("float"))
    got = {r["i"]: list(r["v"]) for r in df.select(
        "i", vec.alias("v")).collect()}
    for i, t in enumerate(texts):
        exp = l2_normalize_f32(hash_embedding(t))
        assert got[i] == exp, (i, t, got[i][:4], exp[:4])


def test_quality_model_twin_matches_spark_adversarial(spark):
    """quality_model score twin vs the Spark fold, BIT-exact, over
    adversarial strings: unicode whitespace (Java \\s is ASCII — the twin
    must tokenize identically), CJK, repeated tokens, punctuation-only,
    long texts, NULL."""
    from rag_pdf_parser_spark.functions import with_quality_model
    from rag_pdf_parser_spark.kernel.twins import quality_model_score

    texts = ["hello world hello", "  spaced\t tokens \n lines ",
             "数据 引擎 data 数据", "", "one", "a " * 300,
             "MiXeD CaSe MIXED case", "punct, here! and; there?",
             " nbsp separated words",  # NBSP is NOT \s in Java
             "　ideographic　space", "word​zero​width",
             ".!?", "x" * 500, None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    got = {r["i"]: r["score_lin"]
           for r in with_quality_model(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == quality_model_score(t), (i, repr(t))


def _repetition_model(text):
    """Test-local model of `with_repetition_features` for one text:
    sorted-run counting over the twin-normalized tokens, fractions
    rounded like Spark's F.round."""
    from itertools import groupby

    from rag_pdf_parser_spark.functions import (REPETITION_DUP_THRESHOLDS,
                                                REPETITION_TOP_THRESHOLDS)
    from rag_pdf_parser_spark.kernel.twins import (normalized_text,
                                                   round_half_up)

    text = text or ""
    chars = max(len(text), 1)
    toks = [t for t in normalized_text(text).split(" ") if t]

    def runs(items):  # [(item, count)] in sorted order
        return [(k, len(list(g))) for k, g in groupby(sorted(items))]

    def frac(n_chars):
        return round_half_up(min(n_chars / chars, 1.0), 6)

    out = {}
    for n in range(2, 11):
        grams = runs(" ".join(toks[i:i + n])
                     for i in range(len(toks) - n + 1))
        if n in REPETITION_TOP_THRESHOLDS:
            best = max((c for _, c in grams), default=0)
            top = next((g for g, c in grams if c == best), "")
            out[f"top_{n}gram_char_frac"] = frac(best * len(top))
        else:
            out[f"dup_{n}gram_char_frac"] = frac(
                sum((c - 1) * len(g) for g, c in grams))
    paras = runs(p for p in (s.strip(" ") for s in text.split("\n\n")) if p)
    n_paras = sum(c for _, c in paras)
    out["dup_para_frac"] = round_half_up(
        sum(c - 1 for _, c in paras) / max(n_paras, 1), 6)
    out["dup_para_char_frac"] = frac(sum((c - 1) * len(p) for p, c in paras))
    out["repetition_keep"] = (
        all(out[f"top_{n}gram_char_frac"] <= t
            for n, t in REPETITION_TOP_THRESHOLDS.items())
        and all(out[f"dup_{n}gram_char_frac"] <= t
                for n, t in REPETITION_DUP_THRESHOLDS.items())
        and out["dup_para_frac"] <= 0.30
        and out["dup_para_char_frac"] <= 0.20)
    return out


def _check_repetition_batch(spark, texts):
    from rag_pdf_parser_spark.functions import with_repetition_features

    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = {r["i"]: r.asDict() for r in
           with_repetition_features(df).drop("text").collect()}
    for i, t in enumerate(texts):
        exp = {"i": i, **_repetition_model(t)}
        assert got[i] == exp, (repr(t), {k: (got[i][k], exp[k])
                                         for k in exp if got[i][k] != exp[k]})


#: a small vocabulary with paragraph breaks, and a phrase repeated up to
#: 4 times, so the repetition stats come out non-zero
_REPETITIVE = st.tuples(
    st.lists(st.tuples(
        st.sampled_from(["a", "b", "ab", "A", "Ab", "ΣΑΣ", "数据", "İ",
                         "x\xa0y", "the cat", ""]),
        st.sampled_from([" ", "  ", "\t", "\n", "\n\n", "\n\n\n",
                         " \n\n ", "\n \n"])), max_size=20),
    st.integers(min_value=1, max_value=4),
).map(lambda pk: "".join(w + s for w, s in pk[0]) * pk[1])


@settings(max_examples=15, deadline=None)
@given(st.lists(st.one_of(st.none(), TEXT), min_size=1, max_size=20))
def test_repetition_features_match_python_model(spark, texts):
    _check_repetition_batch(spark, texts)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.one_of(st.none(), _REPETITIVE), min_size=1, max_size=20))
def test_repetition_features_match_python_model_repetitive(spark, texts):
    _check_repetition_batch(spark, texts)


#: words for the near-dup corpus: ASCII of several lengths, CJK, and
#: letters whose lowercase differs in length (İ) or by context (Σ)
_DEDUP_WORDS = st.one_of(
    st.sampled_from(["river", "stone", "a", "the", "alpha", "数据", "处理",
                     "学习模型", "İstanbul", "Σίσυφος"]),
    st.text(alphabet="abcdefgh数据学", min_size=1, max_size=9))


@st.composite
def _near_dup_corpora(draw):
    """Docs that are fresh, exact copies or one-word edits of an earlier
    doc, NULL or empty. Fresh docs are 6-16 words, so a one-word edit
    lands on both sides of the 0.8 Jaccard threshold."""
    texts = []
    for _ in range(draw(st.integers(min_value=1, max_value=10))):
        earlier = [t for t in texts if t]
        kind = draw(st.sampled_from(
            ["fresh", "copy", "edit", "edit", "null", "empty"]
            if earlier else ["fresh", "null", "empty"]))
        if kind == "fresh":
            texts.append(" ".join(draw(st.lists(_DEDUP_WORDS, min_size=6,
                                                max_size=16))))
        elif kind == "null":
            texts.append(None)
        elif kind == "empty":
            texts.append("")
        else:
            src = draw(st.sampled_from(earlier))
            if kind == "edit":
                words = src.split(" ")
                words[draw(st.integers(0, len(words) - 1))] = \
                    draw(_DEDUP_WORDS)
                src = " ".join(words)
            texts.append(src)
    return [(f"d{i:02d}", t) for i, t in enumerate(texts)]


@settings(max_examples=8, deadline=None)
@given(_near_dup_corpora())
def test_one_increment_into_empty_store_keeps_what_dedup_corpus_keeps(
        spark, rows):
    """Admitting a corpus as one increment into an empty store keeps
    exactly the ids `dedup_corpus` keeps: both run the same exact lane,
    LSH config, skew cap and Jaccard verify, and with no store there is
    nothing to probe."""
    import shutil
    import tempfile

    from rag_pdf_parser_spark.operators.dedup import (
        dedup_corpus,
        dedup_corpus_incremental,
    )

    docs = spark.createDataFrame(rows, "doc_id string, text string")
    root = tempfile.mkdtemp(prefix="admit_prop_")
    try:
        admitted = dedup_corpus_incremental(
            docs, f"{root}/lsh", f"{root}/canon")
        got = sorted(r["doc_id"] for r in admitted.collect())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    want = sorted(r["doc_id"] for r in dedup_corpus(docs).collect())
    assert got == want, (rows, got, want)


def _first_seen_greedy_model(batches):
    """Python model of admitting `batches` in order into one empty store:
    per batch the ids the admit returns, and at the end the canon ids.

    - A re-submitted id already in canon is skipped: neither admitted nor
      dropped.
    - Exact lane: min id per normalized text; a NULL text is keyed by its
      own id.
    - Candidates share an LSH bucket (`minhash_signature_xx` bands), and
      verify at round-half-up-6 char-shingle Jaccard ≥ the threshold. A
      NULL text never verifies.
    - Within the batch, union-find over the verified pairs: non-roots
      (all but the min id of a component) are dropped.
    - Cross: a doc sharing a bucket with an admitted doc and verifying
      against it is dropped.
    """
    from rag_pdf_parser_spark.kernel.twins import (char_shingles,
                                                   minhash_signature_xx,
                                                   normalized_text,
                                                   round_half_up)
    from rag_pdf_parser_spark.operators.dedup import (JACCARD_THRESHOLD,
                                                      LSH_CONFIG)

    n, k, bands = (LSH_CONFIG[x] for x in ("n", "num_perm", "bands"))
    r = k // bands

    def buckets(text):
        if text is None:
            return set()
        sig = minhash_signature_xx(text, n, k)
        return {(b, tuple(sig[b * r:(b + 1) * r])) for b in range(bands)}

    def verifies(a, b):
        if a is None or b is None:
            return False
        ga, gb = char_shingles(a, n), char_shingles(b, n)
        return round_half_up(len(ga & gb) / len(ga | gb), 6) \
            >= JACCARD_THRESHOLD

    canon, index, admitted_per_batch = {}, {}, []
    for rows in batches:
        first = {}
        for i, t in sorted(r for r in rows if r[0] not in canon):
            first.setdefault(("text", normalized_text(t)) if t is not None
                             else ("id", i), (i, t))
        docs = dict(first.values())
        bk = {i: buckets(t) for i, t in docs.items()}
        root = {i: i for i in docs}

        def find(x):
            while root[x] != x:
                x = root[x]
            return x

        ids = sorted(docs)
        for x, a in enumerate(ids):
            for b in ids[x + 1:]:
                if bk[a] & bk[b] and verifies(docs[a], docs[b]):
                    ra, rb = find(a), find(b)
                    root[max(ra, rb)] = min(ra, rb)
        dropped = {i for i in ids if find(i) != i}
        dropped |= {i for i in ids if any(
            verifies(docs[i], canon[c])
            for key in bk[i] for c in index.get(key, ()))}
        admitted = [i for i in ids if i not in dropped]
        for i in admitted:
            canon[i] = docs[i]
            for key in bk[i]:
                index.setdefault(key, set()).add(i)
        admitted_per_batch.append(admitted)
    return admitted_per_batch, sorted(canon)


@settings(max_examples=6, deadline=None)
@given(_near_dup_corpora(), st.data())
def test_increments_admit_what_first_seen_greedy_admits(spark, rows, data):
    """Admitting a corpus as 2-3 consecutive increments, with one earlier
    increment submitted again later, admits per increment what the
    first-seen-greedy model admits, and canon and the store's owner ids
    end up as the model's canon."""
    import shutil
    import tempfile

    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental

    k = data.draw(st.integers(2, 3))
    cuts = sorted(data.draw(st.lists(st.integers(0, len(rows)),
                                     min_size=k - 1, max_size=k - 1)))
    bounds = [0, *cuts, len(rows)]
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:])]
    again = data.draw(st.integers(0, k - 1))
    at = data.draw(st.integers(again + 1, k))
    batches.insert(at, batches[again])

    want, want_canon = _first_seen_greedy_model(batches)
    root = tempfile.mkdtemp(prefix="admit_k_prop_")
    store, canon = f"{root}/lsh", f"{root}/canon"
    try:
        got = [sorted(r["doc_id"] for r in dedup_corpus_incremental(
            spark.createDataFrame(b, "doc_id string, text string"),
            store, canon).collect()) for b in batches]
        got_canon = sorted(r["doc_id"] for r in
                           spark.read.parquet(canon).collect()) \
            if want_canon else []
        owners = sorted({r["id"] for r in
                         spark.read.parquet(store).select("id").collect()}) \
            if want_canon else []
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == want, (batches, got, want)
    assert got_canon == want_canon == owners, (got_canon, owners)


#: verify texts: a shared 30-60 char base over ASCII, space and CJK, so
#: one to three char edits put the 5-gram Jaccard on both sides of the
#: threshold, mixed with unrelated texts, NULL and ''
_VERIFY_CHARS = "abcde 数据学"


@st.composite
def _verify_docs(draw):
    base = draw(st.text(alphabet=_VERIFY_CHARS, min_size=30, max_size=60))
    texts = []
    for _ in range(draw(st.integers(min_value=2, max_value=6))):
        kind = draw(st.sampled_from(
            ["base", "edit", "edit", "edit", "fresh", "null", "empty"]))
        if kind == "null":
            texts.append(None)
        elif kind == "empty":
            texts.append("")
        elif kind == "fresh":
            texts.append(draw(st.text(alphabet=_VERIFY_CHARS, max_size=60)))
        else:
            t = base
            for _ in range(draw(st.integers(0, 3)) if kind == "edit" else 0):
                i = draw(st.integers(0, len(t)))
                c = draw(st.sampled_from(_VERIFY_CHARS))
                t = draw(st.sampled_from([t[:i] + c + t[i + 1:],
                                          t[:i] + c + t[i:],
                                          t[:i] + t[i + 1:]]))
            texts.append(t)
    return [(f"d{i}", t) for i, t in enumerate(texts)]


@settings(max_examples=15, deadline=None)
@given(_verify_docs())
def test_jaccard_prefilter_keeps_what_the_gate_keeps(spark, rows):
    """With the size-bound prefilter on (`min_jaccard=JACCARD_THRESHOLD`)
    the verify reports a subset of the unfiltered pairs with equal
    values, and at the threshold gate keeps exactly the pairs the
    unfiltered verify reaches it with."""
    from itertools import combinations

    from rag_pdf_parser_spark.operators.dedup import (JACCARD_THRESHOLD,
                                                      ngram_jaccard_pairs)

    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = spark.createDataFrame(
        [(a, b) for (a, _), (b, _) in combinations(rows, 2)],
        "id_a string, id_b string")

    def verify(**kw):
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                ngram_jaccard_pairs(docs, pairs, **kw).collect()}

    full = verify()
    pre = verify(min_jaccard=JACCARD_THRESHOLD)
    assert len(full) == len(rows) * (len(rows) - 1) // 2, (rows, full)
    assert pre.items() <= full.items(), (rows, pre, full)

    def gate(d):
        return {k: v for k, v in d.items() if v >= JACCARD_THRESHOLD}

    assert gate(pre) == gate(full), (rows, pre, full)


#: component ids: one or two chars of ASCII, Latin-1, CJK and a
#: supplementary-plane letter, so the driver's Python `<` and Spark's
#: UTF-8 binary order are both exercised
_CC_IDS = st.text(alphabet="abé数\U0001d4b3", min_size=1, max_size=2)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(_CC_IDS, _CC_IDS), min_size=1, max_size=10))
def test_connected_components_driver_path_equals_loop(spark, edges):
    """The driver union-find (`DRIVER_EDGES` above the edge count) and
    the distributed propagation loop (`DRIVER_EDGES = 0`) label every
    node with the same min-id component, self-pairs and repeated edges
    included."""
    from unittest import mock

    from rag_pdf_parser_spark.operators import dedup

    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    driver = sorted(map(tuple, dedup.connected_components(pairs).collect()))
    with mock.patch.object(dedup, "DRIVER_EDGES", 0):
        loop = sorted(map(tuple,
                          dedup.connected_components(pairs).collect()))
    assert driver == loop, (edges, driver, loop)
    assert {n for e in edges for n in e} == {i for i, _ in driver}


@st.composite
def _names(draw):
    """A dotted name of 1-10 labels over a small alphabet, so entries
    and hosts share suffixes."""
    n = draw(st.integers(min_value=1, max_value=10))
    return ".".join(draw(st.lists(st.sampled_from(["a", "b", "ex", "Co"]),
                                  min_size=n, max_size=n)))


@st.composite
def _url_gate_cases(draw):
    """Blocklist entries of 1-10 labels (some blank, some padded and
    upper-cased), and hosts that are random names, an entry itself or an
    entry's subdomain, under a few paths (two of which hit a URL
    pattern)."""
    names = draw(st.lists(_names(), min_size=1, max_size=4))
    hosts = []
    for _ in range(draw(st.integers(min_value=1, max_value=8))):
        kind = draw(st.sampled_from(["name", "entry", "sub", "sub"]))
        h = draw(_names()) if kind == "name" else draw(st.sampled_from(names))
        if kind == "sub":
            h = f"{draw(_names())}.{h}"
        hosts.append(h)
    entries = [f" {e.upper()} " if draw(st.booleans()) else e
               for e in names]
    entries += draw(st.lists(st.sampled_from(["", "   "]), max_size=2))
    urls = [f"https://{h}/{draw(st.sampled_from(['p', 'login', 'i.png']))}"
            for h in hosts]
    return urls, entries


@settings(max_examples=10, deadline=None)
@given(_url_gate_cases())
def test_url_gate_matches_the_oracle_rule(spark, case):
    """`filter_urls` blocks a url exactly when it hits a URL pattern or
    its host equals a blocklist entry or ends with '.' + entry, at any
    entry depth — the rule the DuckDB oracle spells as
    `host = e OR host LIKE '%.' || e`."""
    from rag_pdf_parser_spark.operators.urlfilter import (
        DEFAULT_URL_PATTERNS,
        filter_urls,
    )

    urls, entries = case
    pattern = re.compile("|".join(DEFAULT_URL_PATTERNS))
    norm = {e.strip(" ").lower() for e in entries} - {""}

    def expect(url):
        host = url.split("/")[2].lower()
        dom = any(host == e or host.endswith("." + e) for e in norm)
        pat = bool(pattern.search(url.lower()))
        return dom or pat, "domain" if dom else "pattern" if pat else None

    docs = spark.createDataFrame(list(enumerate(urls)),
                                 "doc_id long, url string")
    blocked = spark.createDataFrame([(e,) for e in entries], "host string")
    got = {r["doc_id"]: (r["url_blocked"], r["block_reason"])
           for r in filter_urls(docs, blocked).collect()}
    assert got == {i: expect(u) for i, u in enumerate(urls)}, (case, got)
