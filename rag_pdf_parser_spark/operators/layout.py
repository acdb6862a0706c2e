"""Layout-lane operators: XY-cut reading order and markdown segmentation.

These wrap the two remaining per-document kernels (W3 sort_boxes, X7
segment_markdown) as Arrow-vectorized stages — the PDF-lane slots of the
north star (positioned text boxes stand in for pdfminer output; the markdown
lane handles already-linearized text inputs like the `documents` table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernel.layout import make_boxes, sort_boxes
from ..kernel.mdseg import segment_markdown
from .arrowmap import group_rows, map_rows, salted

BOXES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("page_width", T.DoubleType(), False),
    T.StructField("line_id", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("box", T.ArrayType(T.DoubleType()), False),
])

ORDERED_SCHEMA = T.StructType(
    BOXES_SCHEMA.fields + [T.StructField("reading_order", T.IntegerType(), False)]
)

MD_BLOCKS_SCHEMA = (
    "doc_id long, reading_order int, type string, text string, markdown string"
)


def xy_cut_order(boxes: DataFrame) -> DataFrame:
    """Assign reading order per doc via the column-aware XY sort (kernel
    twin of extractor.py:304-356). Grouped map per doc_id — reading order is
    a per-document total order, inherently sequential per doc and parallel
    across docs."""

    def per_doc(g: dict[str, list]) -> list[tuple]:
        lines = [{"line_id": i, "text": t, "box": b}
                 for i, t, b in zip(g["line_id"], g["text"], g["box"])]
        ordered = sort_boxes(lines, float(g["page_width"][0]))
        rank = {l["line_id"]: i for i, l in enumerate(ordered)}
        rows = zip(*(g[f] for f in BOXES_SCHEMA.names))
        return [(*row, rank[lid]) for row, lid in zip(rows, g["line_id"])]

    return boxes.groupBy("doc_id").applyInArrow(
        group_rows(per_doc, ORDERED_SCHEMA), ORDERED_SCHEMA)


def segment_markdown_docs(docs: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """X7 as one Arrow row-map stage over any text/markdown column of a
    `doc_id`-keyed table — emits the flat typed-block table."""

    def blocks(did, text):
        return [(int(did), b["reading_order"], b["type"], b["text"],
                 b["markdown"]) for b in segment_markdown(text or "")]

    return salted(docs.select("doc_id", text_col), "doc_id").mapInArrow(
        map_rows(blocks, MD_BLOCKS_SCHEMA), MD_BLOCKS_SCHEMA)


def synth_boxes(spark, n_docs: int) -> DataFrame:
    """Deterministic positioned-boxes fixture, distributed generation."""
    def gen(i):
        lines, width = make_boxes(i)
        return [(i, width, l["line_id"], l["text"], l["box"]) for l in lines]

    return spark.range(n_docs).mapInArrow(
        map_rows(gen, BOXES_SCHEMA), BOXES_SCHEMA)
