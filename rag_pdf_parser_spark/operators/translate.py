"""Translation slot (M6) — deterministic dictionary stub + bilingual interleave.

The reference translates paragraph-by-paragraph via Ollama and interleaves
original/translated paragraphs (translator.py:42-109 request loop,
211-258 interleave). Per the north rule the model call is replaced by a
deterministic rule occupying the same dataflow slot:

- `dict_translate_expr`: token-wise dictionary mapping for a small fixed
  ko/zh→en lexicon (the datagen vocabulary), unknown tokens passed through
  unchanged — a pure native expression (transform over the token array);
- `bilingual_interleave`: the reference's interleave is pure formatting —
  original paragraph, blank line, *translated* paragraph in italics —
  reproduced exactly as concat expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed deterministic lexicon (datagen vocabulary, kernel/datagen.py)
LEXICON = {
    "데이터": "data", "엔진": "engine", "문서": "document", "추출": "extract",
    "파이프라인": "pipeline", "분산": "distributed", "처리": "processing",
    "속도": "speed", "검증": "verification", "결과": "result",
    "시스템": "system", "분석": "analysis", "언어": "language",
    "모델": "model", "학습": "training",
    "数据": "data", "引擎": "engine", "文档": "document", "提取": "extract",
    "管道": "pipeline", "分布": "distributed", "处理": "processing",
    "速度": "speed", "验证": "verification", "结果": "result",
    "系统": "system", "分析": "analysis", "语言": "language",
    "模型": "model", "学习": "training",
}


def dict_translate_expr(text: Column) -> Column:
    """Whitespace-token dictionary translation; unknown tokens unchanged.
    Pure expression: split → transform(element_at(map)) → concat_ws."""
    pairs = []
    for k, v in sorted(LEXICON.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    lex = F.create_map(*pairs)
    toks = F.split(text, r"\s+")
    translated = F.transform(toks, lambda t: F.coalesce(lex[t], t))
    return F.concat_ws(" ", translated)


def bilingual_interleave(blocks: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-block bilingual rendering (translator.py:211-258 interleave
    shape): original, blank line, *translation* italicized. Only applied to
    non-'en' blocks; English blocks pass through."""
    tr = dict_translate_expr(F.col(text_col))
    out = F.when(
        F.col("lang").isin("ko", "zh"),
        F.concat(F.col(text_col), F.lit("\n\n*"), tr, F.lit("*")),
    ).otherwise(F.col(text_col))
    return blocks.withColumn("bilingual", out).withColumn(
        "translation", F.when(F.col("lang").isin("ko", "zh"), tr)
    )


# --- paragraph-aware bilingual markdown (translator.py:211-318 semantics) ----

#: line prefixes the reference's paragraph parser treats as 'special'
#: (translator.py:265-275): emitted verbatim, never translated, and they
#: flush any accumulated text paragraph.
SPECIAL_PREFIXES = ("#", "![", "<!--", "*AI ", "|", "```", ">")


def bilingual_markdown_expr(md: Column) -> Column:
    """Paragraph-aware bilingual rendering of a whole markdown document —
    the reference's translate_markdown_bilingual (translator.py:260-318)
    with the deterministic dict stub in the model slot, as ONE pure
    expression (fold over the line array, no UDF, no shuffle):

    - lines split on '\\n'; special lines (headings, images, comments,
      '*AI ' annotations, tables, fences, quotes, blank) pass through and
      flush the pending paragraph;
    - consecutive other lines accumulate into a paragraph; on flush the
      output gains [paragraph, '', '> *<translation>*', ''] exactly as
      _build_bilingual_output does (result_lines joined with '\\n').

    Per-doc cost is linear in lines (the paragraph translation only
    evaluates on flush branches); accumulator copies bound the constant —
    fine for document-sized markdown, which is the only regime this runs in.
    Blank-line detection uses Java's ASCII \\s class (the Python twin
    mirrors it — SURVEY gotcha on \\s semantics)."""
    lines = F.split(md, "\n", -1)

    def special(l: Column) -> Column:
        cond = l.rlike(r"^\s*$")
        for p in SPECIAL_PREFIXES:
            cond = cond | l.startswith(p)
        return cond

    def para_block(p: Column) -> Column:
        return F.array(p, F.lit(""),
                       F.concat(F.lit("> *"), dict_translate_expr(p), F.lit("*")),
                       F.lit(""))

    def flush(lines_acc: Column, para: Column) -> Column:
        return F.when(para != "", F.concat(lines_acc, para_block(para))) \
                .otherwise(lines_acc)

    empty = F.array().cast("array<string>")
    init = F.struct(empty.alias("out"), F.lit("").alias("para"))

    def step(acc: Column, l: Column) -> Column:
        is_sp = special(l)
        new_out = F.when(is_sp, F.array_append(flush(acc["out"], acc["para"]), l)) \
                   .otherwise(acc["out"])
        new_para = F.when(is_sp, F.lit("")).otherwise(
            F.when(acc["para"] == "", l)
            .otherwise(F.concat(acc["para"], F.lit("\n"), l))
        )
        return F.struct(new_out.alias("out"), new_para.alias("para"))

    return F.aggregate(
        lines, init, step,
        lambda acc: F.array_join(flush(acc["out"], acc["para"]), "\n"),
    )


def bilingual_markdown_py(content: str) -> str:
    """Pure-Python twin of bilingual_markdown_expr (golden-oracle generator
    and pytest reference) — same ASCII whitespace semantics as the Java
    regexes in the expression."""
    import re

    ws_split = re.compile(r"[ \t\n\x0b\f\r]+")
    blank = re.compile(r"^[ \t\n\x0b\f\r]*$")

    def translate(p: str) -> str:
        return " ".join(LEXICON.get(t, t) for t in ws_split.split(p))

    out: list[str] = []
    para: list[str] = []

    def flush():
        if para:
            p = "\n".join(para)
            out.extend([p, "", f"> *{translate(p)}*", ""])
            para.clear()

    for line in content.split("\n"):
        if blank.match(line) or line.startswith(SPECIAL_PREFIXES):
            flush()
            out.append(line)
        else:
            para.append(line)
    flush()
    return "\n".join(out)


def translate_markdown_bilingual(docs: DataFrame) -> DataFrame:
    """Document-level M6 slot: adds a `bilingual_md` column with the
    paragraph-aware interleave of `markdown_doc`."""
    return docs.withColumn("bilingual_md",
                           bilingual_markdown_expr(F.col("markdown_doc")))
