"""End-to-end corpus curation — the composed training-data pipeline a
100-TB user actually runs, built from the engine's tested gates:

    URL/domain gate        (operators.urlfilter — before touching text)
  → Gopher word gate       (functions.gopher_features_expr)
  → repetition gate        (functions.with_repetition_features)
  → model quality gate     (functions.with_quality_model)
  → near-dedup             (operators.dedup.dedup_corpus)

The text gates (gopher/repetition/model) add their columns in one pass over
the corpus with no shuffle and one tokenization: the raw whitespace split,
its lowercase transform and the bigram array are staged once and shared
(gopher's bigram stat and the quality model's features read the same
bigrams). The repetition family then runs as one `mapInArrow` stage over
the lowercase tokens (`functions.with_repetition_stats`). Each gate's
standalone path builds the same arrays itself, so the composed flags equal
the standalone gates (asserted in tests). The URL gate, when a blocklist is
supplied, is per-depth broadcast probes of the blocklist
(operators/urlfilter.py) — zero shuffle of the corpus. The funnel report
aggregates drop counts per stage from the flags in one job; dedup shuffles
per its own documented shapes. The reference has no corpus curation at
all — this is the §2.11 engine-added capstone composing its per-stage
analogs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import (
    REPETITION_STATS,
    gopher_features_expr,
    gram_step_expr,
    raw_tokens_expr,
    with_quality_model,
    with_repetition_stats,
)
from ..operators import spread
from ..operators.dedup import dedup_corpus
from ..operators.urlfilter import filter_urls


def with_text_gate_flags(docs: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """docs + the THREE text-gate flag families (gopher_keep, the 11
    repetition stat columns, score_lin/quality_p/model_keep, then
    repetition_keep) in one pass with one tokenization — the shared core
    of `flag_corpus` and the pipeline's `curate=` stage.

    NULL text behaves as empty like in every other gate — a NULL
    gopher_keep would poison any pass-all conjunction to NULL (the doc
    would vanish from every funnel bucket and both curate branches).

    Raw-case tokens feed gopher's alpha/word stats; their lowercase
    transform (== `word_tokens_expr` of the same text — lower() never
    creates or destroys ASCII whitespace) feeds the one bigram step that
    gopher and the quality model share, and then the repetition stage,
    which drops it."""
    orig = list(docs.columns)
    safe = F.coalesce(F.col(text_col), F.lit(""))
    out = docs.withColumn("__rtoks", raw_tokens_expr(safe))
    out = out.withColumn("__toks", F.transform(F.col("__rtoks"), F.lower))
    out = out.withColumn(
        "__g2", gram_step_expr(F.col("__toks"), F.col("__toks"), 2))
    out = with_quality_model(out, text_col, toks=F.col("__toks"),
                             bigrams=F.col("__g2"))
    gf = gopher_features_expr(safe, toks=F.col("__rtoks"),
                              bigrams=F.col("__g2"))
    quality = ["score_lin", "quality_p", "model_keep"]
    out = with_repetition_stats(out.select(
        *orig, gf["gopher_keep"].alias("gopher_keep"), *quality, "__toks"),
        text_col, "__toks")
    return out.select(*orig, "gopher_keep", *REPETITION_STATS, *quality,
                      "repetition_keep")


def flag_corpus(docs: DataFrame, blocked_hosts: DataFrame | None = None,
                url_col: str = "url", text_col: str = "text") -> DataFrame:
    """docs + the four gate flags (url_ok, gopher_keep, repetition_keep,
    model_keep) + pass_all. Nothing is dropped — the auditable form (a
    manifest can record WHY each doc would fall); `curate_corpus` applies
    the drops."""
    out = docs
    if url_col in docs.columns:
        out = filter_urls(out, blocked_hosts, url_col=url_col) \
            .withColumn("url_ok", ~F.col("url_blocked")) \
            .drop("url_blocked", "block_reason")
    else:
        out = out.withColumn("url_ok", F.lit(True))
    # the gates are per-row CPU: spread a single-task input scan first
    # (a no-op on inputs that already have the parallelism)
    out = with_text_gate_flags(spread.ensure_parallelism(out), text_col)
    return out.withColumn(
        "pass_all",
        F.col("url_ok") & F.col("gopher_keep") & F.col("repetition_keep")
        & F.col("model_keep"),
    )


#: manifest failure codes of the pipeline's `curate=` stage, in gate order
TEXT_GATE_CODES = ("GOPHER_DROP", "REPETITION_DROP", "MODEL_DROP")


def text_gate_code_expr() -> F.Column:
    """Sequential gate failure code from the `with_text_gate_flags`
    ATTRIBUTES: the FIRST failing gate names the drop (a doc failing
    gopher is GOPHER_DROP even if it would also fail the model — the same
    sequential-funnel discipline as `curation_funnel_df`), NULL = passed
    all three. Manifest-ready: mirrors the reference's per-doc
    failure-code tracking (persistent.py:369-406) for the curation
    stage."""
    return (
        F.when(~F.col("gopher_keep"), F.lit("GOPHER_DROP"))
        .when(~F.col("repetition_keep"), F.lit("REPETITION_DROP"))
        .when(~F.col("model_keep"), F.lit("MODEL_DROP"))
    )


def curation_funnel_df(flagged: DataFrame) -> DataFrame:
    """Per-stage drop accounting over a `flag_corpus` output as a ONE-ROW
    DataFrame — the oracle-comparable form. Stages are counted
    sequentially (a doc dropped by the URL gate isn't re-counted by later
    gates), matching how `curate_corpus` actually filters."""
    # coalesce: F.sum over ZERO rows is NULL — an empty corpus (or slice)
    # must report an all-zero funnel, not crash on int(None)
    c = lambda col: F.coalesce(  # noqa: E731
        F.sum(col.cast("long")), F.lit(0).cast("long"))
    u = F.col("url_ok")
    g = F.col("gopher_keep")
    r = F.col("repetition_keep")
    m = F.col("model_keep")
    return flagged.agg(
        F.count("*").alias("n_input"),
        c(~u).alias("drop_url"),
        c(u & ~g).alias("drop_gopher"),
        c(u & g & ~r).alias("drop_repetition"),
        c(u & g & r & ~m).alias("drop_model"),
        c(u & g & r & m).alias("n_pass"),
    )


def curation_funnel(flagged: DataFrame) -> dict:
    """`curation_funnel_df` collected to control-plane scalars."""
    row = curation_funnel_df(flagged).collect()[0]
    return {k: int(row[k]) for k in row.asDict()}


def curate_corpus(docs: DataFrame, blocked_hosts: DataFrame | None = None,
                  id_col: str = "doc_id", url_col: str = "url",
                  text_col: str = "text", dedup: bool = True) -> DataFrame:
    """The full curation: gate flags → filter to pass_all → near-dedup.
    Returns the curated corpus with the original columns."""
    flagged = flag_corpus(docs, blocked_hosts, url_col, text_col)
    kept = flagged.where(F.col("pass_all")).select(*docs.columns)
    if not dedup:
        return kept
    return dedup_corpus(kept, id_col=id_col, text_col=text_col)


def curate_corpus_incremental(increment: DataFrame, store_dir: str,
                              canon_dir: str,
                              blocked_hosts: DataFrame | None = None,
                              id_col: str = "doc_id", url_col: str = "url",
                              text_col: str = "text"
                              ) -> tuple[DataFrame, dict]:
    """The DAILY-INCREMENT production entrypoint: gate flags (tokenize-once
    pass) → sequential funnel accounting → pass_all filter → incremental
    near-dedup against the persisted bucket index + accumulated canonical
    corpus (`operators.dedup.dedup_corpus_incremental` — bp-pruned store
    probes, crash-safe append order, writer-leased).

    Returns (admitted_docs, funnel) where `funnel` extends the per-gate
    accounting with `drop_already_admitted` (gate survivors whose id is
    already canonical — a retried or overlapping batch, NOT duplicates),
    `drop_dedup` (gate survivors rejected as near-dups of this batch or
    the accumulated corpus), and `n_admitted` — so n_input = all drops +
    n_admitted stays exact end-to-end. Run nightly over the day's crawl:
    the accumulated corpus is never re-shingled, only the increment is.

    `flagged` is localCheckpointed before its two consumers (the funnel
    aggregation and the pass_all filter feeding dedup): without it every
    gate — the tokenize, the quality fold and the repetition stage —
    executes twice per row, and the dedup-side plan would also re-read
    canon_dir after the admit appends to it (the comment above the
    appends in `operators/dedup.py:dedup_corpus_incremental`).

    `drop_already_admitted` is counted INSIDE dedup's writer-leased
    section (its `stats` out-param), against the exact canon snapshot the
    resume anti-join reads — counting it here first would race a
    concurrent increment's commit and skew the already-admitted/dedup
    split (r5 verdict #6; sums stayed exact, labels didn't)."""
    from ..operators.dedup import dedup_corpus_incremental

    flagged = flag_corpus(increment, blocked_hosts, url_col, text_col) \
        .localCheckpoint(eager=True)
    funnel = curation_funnel(flagged)
    kept = flagged.where(F.col("pass_all")).select(*increment.columns)
    dedup_stats: dict = {}
    admitted = dedup_corpus_incremental(
        kept, store_dir, canon_dir, id_col=id_col, text_col=text_col,
        stats=dedup_stats)
    n_admitted = admitted.count()
    n_already = dedup_stats["n_already_admitted"]
    funnel["drop_already_admitted"] = n_already
    funnel["drop_dedup"] = funnel["n_pass"] - n_already - n_admitted
    funnel["n_admitted"] = n_admitted
    return admitted, funnel
