"""Native Spark Column expressions for the engine's scalar semantics.

Every function here is `pyspark.sql.functions` composition and runs in the
JVM, with one exception: the Gopher repetition family counts word n-grams
in `kernel.repetition` as one `mapInArrow` stage (`with_repetition_stats`),
and only the fractions and thresholds over those counts are expressions.
Each function mirrors a kernel function (unit-tested equal) and a
reference behavior (cited).
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Unicode classes (exact reference ranges, extractor.py:358-387 /
# chunk.py:102-108)
HANGUL_CLASS = "[\uac00-\ud7af]"
CJK_CLASS = "[\u4e00-\u9fff]"
CJK_TOKEN_CLASS = "[\u4e00-\u9fff\uac00-\ud7af\u3040-\u309f\u30a0-\u30ff]"


def _count_class(col: Column, cls: str) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, cls, ""))


def lang_expr(col: Column) -> Column:
    """Char-class language detection — reference
    /root/reference/src/text/extractor.py:358-387 semantics, as a pure
    expression (SURVEY §2.4 A4). Kernel twin: kernel.lang.detect_language."""
    korean = _count_class(col, HANGUL_CLASS)
    chinese = _count_class(col, CJK_CLASS)
    ascii_alpha = _count_class(col, "[A-Za-z]")
    total = (korean + chinese + ascii_alpha).cast("double")
    return (
        F.when(col.isNull() | (F.length(col) == 0), F.lit("unknown"))
        .when(total == 0, F.lit("unknown"))
        .when(korean / total > 0.3, F.lit("ko"))
        .when(chinese / total > 0.3, F.lit("zh"))
        .when(ascii_alpha / total > 0.5, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def token_estimate_expr(col: Column) -> Column:
    """Token estimator — /root/reference/src/models/chunk.py:92-108:
    int(cjk/1.5 + other/4). Kernel twin: kernel.tokens.estimate_tokens."""
    cjk = _count_class(col, CJK_TOKEN_CLASS).cast("double")
    other = F.length(col).cast("double") - cjk
    return F.floor(cjk / 1.5 + other / 4.0).cast("int")


def anchor_expr(page: Column, btype: Column, order: Column) -> Column:
    """Citation anchor '[@p{page}_{abbrev}{order}]' —
    /root/reference/src/models/block.py:62-70 (8-entry map, fallback
    type[:3])."""
    abbrev = (
        F.when(btype == "text", F.lit("txt"))
        .when(btype == "title", F.lit("ttl"))
        .when(btype == "section_header", F.lit("sec"))
        .when(btype == "table", F.lit("tbl"))
        .when(btype == "figure", F.lit("fig"))
        .when(btype == "chart", F.lit("cht"))
        .when(btype == "formula", F.lit("eq"))
        .when(btype == "picture", F.lit("fig"))
        .otherwise(F.substring(btype, 1, 3))
    )
    return F.format_string("[@p%d_%s%d]", page, abbrev, order)


def content_hash_expr(text: Column) -> Column:
    """sha256[:12] of text — chunk.py:86-88 (D5)."""
    return F.substring(F.sha2(text, 256), 1, 12)


def normalized_text_expr(text: Column) -> Column:
    """Lowercase + whitespace-collapse + trim — deduplicator.py:79-83 (D2)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def normalized_text_hash_expr(text: Column) -> Column:
    return F.sha2(normalized_text_expr(text), 256)


def url_normalize_expr(url: Column) -> Column:
    """Lowercase, drop query string, strip trailing '/' —
    deduplicator.py:103-112 (D4)."""
    return F.regexp_replace(
        F.regexp_replace(F.lower(url), r"[?].*$", ""), r"/+$", ""
    )


def quality_features_expr(text: Column) -> dict[str, Column]:
    """Deterministic text-quality features (training-data pipeline op):
    length, alpha/digit/punct/space ratios, mean word length, stopword hits."""
    length = F.length(text).cast("double")
    safe_len = F.greatest(length, F.lit(1.0))
    alpha = _count_class(text, "[A-Za-z]").cast("double")
    digit = _count_class(text, "[0-9]").cast("double")
    punct = _count_class(text, r"[\.,;:!?'\"()\[\]{}-]").cast("double")
    spaces = _count_class(text, "[ ]").cast("double")
    n_words = F.size(F.split(F.trim(text), r"\s+")).cast("double")
    stop_hits = (
        F.size(
            F.filter(
                F.split(F.lower(text), r"\s+"),
                lambda w: w.isin("the", "a", "an", "and", "or", "of", "to",
                                 "in", "is", "that"),
            )
        ).cast("double")
    )
    return {
        "n_chars": length.cast("long"),
        "n_words": n_words.cast("long"),
        "alpha_ratio": F.round(alpha / safe_len, 6),
        "digit_ratio": F.round(digit / safe_len, 6),
        "punct_ratio": F.round(punct / safe_len, 6),
        "space_ratio": F.round(spaces / safe_len, 6),
        "mean_word_len": F.round((length - spaces) / F.greatest(n_words, F.lit(1.0)), 6),
        "stopword_ratio": F.round(stop_hits / F.greatest(n_words, F.lit(1.0)), 6),
    }


def quality_score_expr(text: Column) -> Column:
    """Composite quality score, scaled to 1e8 micro-units (BIGINT): rewards
    alpha-dominant, stopword-bearing, moderately long text; penalizes
    digit/punct noise. Deliberately float-free at the output (floor-based
    integer pipeline) so the value is bit-identical across engines — double
    round() half-way behavior differs between Spark and DuckDB."""
    length = F.length(text).cast("double")
    safe_len = F.greatest(length, F.lit(1.0))
    alpha = _count_class(text, "[A-Za-z]").cast("double")
    digit = _count_class(text, "[0-9]").cast("double")
    punct = _count_class(text, r"[\.,;:!?'\"()\[\]{}-]").cast("double")
    n_words = F.greatest(
        F.size(F.split(F.trim(text), r"\s+")).cast("double"), F.lit(1.0)
    )
    stop_hits = F.size(
        F.filter(
            F.split(F.lower(text), r"\s+"),
            lambda w: w.isin("the", "a", "an", "and", "or", "of", "to",
                             "in", "is", "that"),
        )
    ).cast("double")
    a_u = F.floor(alpha * 1000000.0 / safe_len)
    d_u = F.floor(digit * 1000000.0 / safe_len)
    p_u = F.floor(punct * 1000000.0 / safe_len)
    st_u = F.least(F.floor(stop_hits * 3000000.0 / n_words), F.lit(1000000))
    len_u = F.least(F.length(text).cast("long") * 2000, F.lit(1000000))
    raw = 35 * a_u + 25 * st_u + 25 * len_u - 10 * d_u - 5 * p_u
    return F.greatest(
        F.least(raw, F.lit(100000000)), F.lit(0)
    ).cast("long")


def fingerprint_expr(text: Column) -> Column:
    """Polynomial rolling-hash document fingerprint over the first
    128 chars of the ASCII-projected normalized text:
    acc = (acc*31 + code) mod 1_000_000_007. Engine-portable (same arithmetic
    in the DuckDB oracle)."""
    ascii_text = F.substring(
        F.regexp_replace(normalized_text_expr(text), "[^ -~]", ""), 1, 128
    )
    chars = F.split(ascii_text, "")
    return F.aggregate(
        F.filter(chars, lambda c: F.length(c) > 0),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(1_000_000_007).cast("long"),
    )


#: width of `hash_embedding_expr`'s vector (two md5 hex chars address at
#: most 256 buckets)
EMBEDDING_DIM = 32


def hash_embedding_expr(text: Column) -> Column:
    """Hashed bag-of-words text embedding (feature hashing / 'hashing
    trick'): token → bucket via the first two hex chars of md5(token)
    (portable to DuckDB without bigint hex parsing), bucket counts as a
    dense `EMBEDDING_DIM` double vector. The training-data pipeline's
    deterministic text→vector source; L2-normalize via `l2_normalize_expr`
    for cosine workloads. Pure expressions — no UDF, no shuffle."""
    toks = F.filter(F.split(normalized_text_expr(text), " "),
                    lambda t: F.length(t) > 0)
    hexes = F.lit("0123456789abcdef")

    def bucket(t: Column) -> Column:
        h = F.md5(t)
        return (
            (F.instr(hexes, F.substring(h, 1, 1)) - 1) * 16
            + (F.instr(hexes, F.substring(h, 2, 1)) - 1)
        ) % EMBEDDING_DIM

    # Hash each token ONCE into an int bucket index, THEN fold the index
    # array into the dim-wide accumulator. Referencing md5 inside the
    # per-element accumulator lambda would re-evaluate it dim× per token
    # (the HOF re-evaluation trap) — here the only work inside the fold is
    # an int compare.
    bucket_idx = F.transform(toks, bucket)
    init = F.array(*[F.lit(0.0)] * EMBEDDING_DIM)
    return F.aggregate(
        bucket_idx, init,
        lambda acc, b: F.transform(
            acc, lambda v, i: v + F.when(b == i, F.lit(1.0))
            .otherwise(F.lit(0.0))
        ),
    )


def l2_normalize_expr(vec: Column) -> Column:
    """v / max(||v||, 1e-12), elementwise — pure expression."""
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v))
    safe = F.greatest(norm, F.lit(1e-12))
    return F.transform(vec, lambda v: v / safe)


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity between two float arrays via zip_with + aggregate —
    JVM-side, no UDF (similarity-search baseline)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


def gopher_features_expr(text: Column, toks: Column | None = None,
                         bigrams: Column | None = None) -> dict[str, Column]:
    """Gopher/C4-style web-text quality filters (Rae et al. 2021 'Scaling
    Language Models' §A1.1; Raffel et al. 2020 C4 heuristics) as pure
    expressions — the standard pre-training corpus gate, word-level subset:

    - word count + mean word length windows,
    - fraction of words containing an alphabetic char,
    - symbol-to-word ratio ('#', '...', '…'),
    - top-bigram fraction (repetition): computed scale-cleanly as the
      longest run in the SORTED bigram array (one O(n log n) array_sort +
      linear fold — no O(n²) per-doc counting),
    - C4 cues: 'lorem ipsum', '{' (code), terminal punctuation.

    `gopher_keep` applies the standard thresholds (50..100k words, mean word
    length 3..10, symbol ratio < 0.1, alpha-word fraction > 0.8, top-bigram
    fraction < 0.2). All ratios are exact-integer divisions in IEEE double —
    deterministic across engines; the DuckDB twin recomputes independently
    (mode-count formulation instead of sorted runs).

    `toks` (raw-case token array) and `bigrams` (lowercased adjacent-pair
    array) accept PRE-STAGED columns so a composed plan (plans/curate.py
    flag_corpus) tokenizes once for all gates — bit-identical to the
    defaults, which build both from `text` here."""
    if toks is None:
        toks = raw_tokens_expr(text)
    n_words = F.size(toks).cast("double")
    safe_words = F.greatest(n_words, F.lit(1.0))
    word_chars = F.length(F.regexp_replace(text, r"\s", "")).cast("double")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
    n_sym = (
        F.regexp_count(text, F.lit("#"))
        + F.regexp_count(text, F.lit(r"\.\.\."))
        + F.regexp_count(text, F.lit("…"))
    ).cast("double")

    if bigrams is None:
        low = F.transform(toks, F.lower)
        bigrams = gram_step_expr(low, low, 2)
    sorted_b = F.array_sort(bigrams)
    run_acc = F.aggregate(
        sorted_b,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_bigram_frac = (
        run_acc["best"].cast("double")
        / F.greatest(F.size(sorted_b).cast("double"), F.lit(1.0))
    )

    mean_word_len = word_chars / safe_words
    frac_alpha = alpha_words / safe_words
    sym_ratio = n_sym / safe_words
    keep = (
        (n_words >= 50) & (n_words <= 100_000)
        & (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
        & (sym_ratio < 0.1) & (frac_alpha > 0.8) & (top_bigram_frac < 0.2)
    )
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(mean_word_len, 6),
        "frac_alpha_words": F.round(frac_alpha, 6),
        "symbol_word_ratio": F.round(sym_ratio, 6),
        "top_bigram_frac": F.round(top_bigram_frac, 6),
        "has_lorem": F.lower(text).contains("lorem ipsum"),
        "has_brace": text.contains("{"),
        "ends_terminal_punct": text.rlike('[.!?"]\\s*$'),
        "gopher_keep": keep,
    }


#: PII patterns (training-data scrubbing): RE2-safe (no lookaround), so the
#: same pattern strings run verbatim in Spark (Java regex) and the DuckDB
#: twin (RE2).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9 ()\-]{7,}[0-9]"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub_expr(text: Column) -> dict[str, Column]:
    """PII scrubbing for pre-training corpora: redact emails, phone-like
    number runs, and IPv4 literals with typed placeholder tokens; report
    per-kind redaction counts. Order matters (emails first — a phone regex
    must not eat digits inside an already-redacted span); counts are
    measured on the ORIGINAL text per kind-in-sequence, matching the
    replacement order."""
    after_email = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")
    scrubbed = F.regexp_replace(after_phone, PII_IPV4, "<IP>")
    return {
        "scrubbed": scrubbed,
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL)),
        "n_phones": F.regexp_count(after_email, F.lit(PII_PHONE)),
        "n_ips": F.regexp_count(after_phone, F.lit(PII_IPV4)),
    }


# --- hashed linear quality model (CCNet/fastText-style classifier slot) -----

QUALITY_MODEL_DIM = 128


@_lru_cache(maxsize=8)
def _qmw_list(dim: int, seed: int) -> tuple:
    import hashlib

    def w(tag):
        h = int.from_bytes(
            hashlib.sha256(f"qw-{seed}-{tag}".encode()).digest()[:8], "big")
        return (h / 2.0 ** 63) - 1.0  # [-1, 1)

    return tuple(w(i) for i in range(dim)), w("bias")


def quality_model_weights(dim: int = QUALITY_MODEL_DIM,
                          seed: int = 13) -> tuple[list[float], float]:
    """Deterministic stand-in parameters for the model-based quality
    classifier (the CCNet / GPT-3-era fastText quality filter slot). In
    production these are TRAINED logistic-regression weights loaded from a
    model artifact; the sandbox has no model file, so a seeded sha256 chain
    generates a fixed pseudo-model — the INFERENCE path (feature hashing,
    weight lookup, fold, calibration) is the real, tested component.
    Returns (weights[dim], bias). Cached — oracle twins call this per row."""
    ws, bias = _qmw_list(dim, seed)
    return list(ws), bias


def quality_model_score_expr(text: Column,
                             toks: Column | None = None,
                             bigrams: Column | None = None) -> Column:
    """Linear text-quality classifier score over hashed unigram+bigram
    features (the 'hashing trick' a la fastText/CCNet): feature f → bucket
    pmod(xxhash64(f), QUALITY_MODEL_DIM) → weight lookup → mean over
    features + bias.
    NULL text behaves as empty (scores exactly the bias) — a NULL score
    would make a keep/drop gate silently lose the row from both branches.

    BIT-exact across engines (literal weights, one left-to-right fold —
    IEEE addition is order-deterministic, no transcendental ops), so the
    oracle compares it exactly.

    Returns the raw score COLUMN — one fold. Derive the sigmoid/keep from
    it in a SECOND select (`with_quality_model`): putting all three in one
    projection re-inlines the whole fold per reference (CollapseProject
    duplicates non-cheap siblings).

    Scale shape: pure expressions, zero shuffle, O(tokens) — the weight
    array rides the plan as a literal (a real model's ~10^5-dim weights
    would ship via broadcast + `F.element_at` on a map/array column
    instead; same plan shape)."""
    ws, bias = quality_model_weights()
    # pre-staged toks/bigrams (flag_corpus): tokenize-once composition —
    # bit-identical to the default construction from `text`
    if toks is None:
        toks = word_tokens_expr(F.coalesce(text, F.lit("")))
    if bigrams is None:
        bigrams = word_ngram_chain_expr(toks, 2)[2]
    feats = F.concat(toks, bigrams)
    weights = F.array(*[F.lit(float(x)) for x in ws])
    # hash each feature ONCE in a projection, then fold weight lookups —
    # only an element_at happens inside the accumulator (HOF trap avoided)
    buckets = F.transform(
        feats, lambda f: F.pmod(F.xxhash64(f), F.lit(QUALITY_MODEL_DIM)))
    total = F.aggregate(
        buckets, F.lit(0.0),
        lambda acc, b: acc + F.element_at(weights, b.cast("int") + 1),
    )
    return total / F.greatest(F.size(feats), F.lit(1)).cast("double") \
        + F.lit(float(bias))


def with_quality_model(df, text_col: str = "text",
                       toks: Column | None = None,
                       bigrams: Column | None = None):
    """df + score_lin / quality_p (monotone sigmoid calibration — exp may
    differ by an ULP across libms, so thresholds belong on score_lin) /
    model_keep. Two selects so the feature fold runs ONCE (the derived
    columns reference the score ATTRIBUTE, which CollapseProject refuses
    to re-inline for multiply-referenced non-cheap expressions)."""
    staged = df.withColumn(
        "score_lin", quality_model_score_expr(F.col(text_col), toks,
                                              bigrams))
    s = F.col("score_lin")
    return (staged
            .withColumn("quality_p", F.lit(1.0) / (F.lit(1.0) + F.exp(-s)))
            .withColumn("model_keep", s > 0))


# --- word n-gram primitives (shared by dedup / repetition / quality) --------

def raw_tokens_expr(text: Column) -> Column:
    """Non-empty whitespace tokens of `text`, case kept: the one split the
    text gates share (gopher reads it as is; the quality model and the
    repetition family read its lowercase transform)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: F.length(t) > 0)


def word_tokens_expr(text: Column, pre_normalized: bool = False) -> Column:
    """Non-empty whitespace tokens of the normalized text."""
    norm = text if pre_normalized else normalized_text_expr(text)
    return F.filter(F.split(norm, " " if pre_normalized else r"\s+"),
                    lambda t: F.length(t) > 0)


def gram_step_expr(prev: Column, toks: Column, n: int) -> Column:
    """ONE level of the zip-shift gram fold: (n-1)-grams `prev` extended by
    the (n-1)-shifted token array into n-grams. Each array is referenced a
    constant number of times; building grams with
    `transform(sequence, i -> slice/element_at(...))` instead re-evaluates
    the derived array per element (O(n²)). Consumed by
    `word_ngram_chain_expr` and by the gopher/quality bigram step."""
    shifted = F.slice(toks, n, F.greatest(F.size(toks) - (n - 1),
                                          F.lit(0)))
    return F.filter(
        F.zip_with(prev, shifted,
                   lambda a, b: F.when(b.isNotNull(),
                                       F.concat(a, F.lit(" "), b))),
        lambda x: x.isNotNull(),
    )


def word_ngram_chain_expr(toks: Column, n_max: int) -> dict[int, Column]:
    """Word n-gram arrays for n=1..n_max, each built from the previous by
    one `gram_step_expr` — every reference is a constant-count O(tokens)
    pass. Decontamination and word-MinHash consume it through
    `token_ngrams_expr`; the quality classifier's default bigrams are its
    n=2 level."""
    grams: dict[int, Column] = {1: toks}
    for n in range(2, n_max + 1):
        grams[n] = gram_step_expr(grams[n - 1], toks, n)
    return grams


def token_ngrams_expr(text: Column, n: int = 13,
                      pre_normalized: bool = False) -> Column:
    """Array of token n-grams of the normalized text (the decontamination /
    word-shingle building block). `pre_normalized=True` skips the
    lower+ws-collapse when the caller already normalized."""
    toks = word_tokens_expr(text, pre_normalized)
    return word_ngram_chain_expr(toks, n)[n]


# --- full Gopher repetition suite (Rae et al. 2021 §A1.1) -------------------

#: Gopher §A1.1 published removal thresholds
REPETITION_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
REPETITION_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                             9: 0.11, 10: 0.10}

#: `kernel.repetition.repetition_counts` output columns, in its order
_REPETITION_COUNTS = (*(f"__top{n}" for n in REPETITION_TOP_THRESHOLDS),
                      *(f"__dup{n}" for n in REPETITION_DUP_THRESHOLDS),
                      "__dup_paras", "__dup_para_chars", "__paras")

#: the repetition stat columns `with_repetition_stats` adds, in order
REPETITION_STATS = (
    *(f"top_{n}gram_char_frac" for n in REPETITION_TOP_THRESHOLDS),
    *(f"dup_{n}gram_char_frac" for n in REPETITION_DUP_THRESHOLDS),
    "dup_para_frac", "dup_para_char_frac")


def with_repetition_features(df):
    """df + the COMPLETE Gopher repetition-filter family over its `text`
    column (Rae et al. 2021 §A1.1), beyond the subset in
    `gopher_features_expr`:

    - top n-gram CHARACTER fraction for n ∈ {2,3,4} (chars covered by the
      single most frequent word n-gram / total chars),
    - duplicate n-gram character fraction for n ∈ {5..10} (chars in all
      occurrences beyond the first of each distinct n-gram / total chars,
      overlap-agnostic, capped at 1),
    - duplicate paragraph fraction + duplicate paragraph CHARACTER
      fraction (paragraphs = '\\n\\n'-separated, trimmed, non-empty),
    - `repetition_keep` applying the published thresholds.

    Words are the lowercase non-empty whitespace tokens of the text. Zero
    shuffle; NULL text behaves as empty (all fractions 0, keep true)."""
    safe = F.coalesce(F.col("text"), F.lit(""))
    toks = F.transform(raw_tokens_expr(safe), F.lower)
    return with_repetition_stats(df.withColumn("__rep_toks", toks),
                                 "text", "__rep_toks")


def with_repetition_stats(df, text_col: str, toks_col: str):
    """`df` → `df` without `toks_col` + the `REPETITION_STATS` columns +
    `repetition_keep` (see `with_repetition_features`), the shared core of
    that gate and of `plans/curate.py:with_text_gate_flags`. `toks_col`
    names the column holding the text's lowercase word tokens; the stage
    consumes it.

    One `mapInArrow` stage runs `kernel.repetition.repetition_counts` per
    row and returns integer counts; only the text and the tokens are read
    in Python, every other column is carried through as Arrow arrays. The
    fractions, their 6-decimal rounding and the thresholds stay
    expressions, and the keep flag reads the rounded fractions."""
    from ..kernel.repetition import repetition_counts
    from ..operators.arrowmap import map_rows

    cols = [c for c in df.columns if c != toks_col]
    carried = [c for c in cols if c != text_col]
    counted = df.select(*carried, text_col, toks_col)
    schema = StructType(counted.schema.fields[:-1] + [
        StructField(c, LongType(), False) for c in _REPETITION_COUNTS])

    def repetition_row(text, toks):
        yield text, *repetition_counts(toks, text)

    counted = counted.mapInArrow(
        map_rows(repetition_row, schema, carry=len(carried)), schema)
    chars = F.greatest(F.length(F.coalesce(F.col(text_col), F.lit("")))
                       .cast("double"), F.lit(1.0))

    def frac(count: str) -> Column:
        return F.round(F.least(F.col(count).cast("double") / chars,
                               F.lit(1.0)), 6)

    stats = [frac(f"__top{n}") for n in REPETITION_TOP_THRESHOLDS]
    stats += [frac(f"__dup{n}") for n in REPETITION_DUP_THRESHOLDS]
    stats += [F.round(F.col("__dup_paras").cast("double")
                      / F.greatest(F.col("__paras").cast("double"),
                                   F.lit(1.0)), 6),
              frac("__dup_para_chars")]
    out = counted.select(*cols, *[c.alias(k)
                                  for k, c in zip(REPETITION_STATS, stats)])

    keep = F.lit(True)
    for n, thr in REPETITION_TOP_THRESHOLDS.items():
        keep = keep & (F.col(f"top_{n}gram_char_frac") <= thr)
    for n, thr in REPETITION_DUP_THRESHOLDS.items():
        keep = keep & (F.col(f"dup_{n}gram_char_frac") <= thr)
    keep = keep & (F.col("dup_para_frac") <= 0.30) \
        & (F.col("dup_para_char_frac") <= 0.20)
    return out.withColumn("repetition_keep", keep)
