"""Column-aware XY reading-order sort over positioned text boxes.

Reproduces the reference's `sort_boxes` semantics exactly
(/root/reference/src/text/extractor.py:304-356) — the layout kernel of the
north star (pdfminer-style text-box clustering → reading order):

- boxes are 4-point polygons (or [x1,y1,x2,y2], normalized to points);
- if more than 10 lines, split at image midline into left/right column
  candidates; if both sides exist and their vertical extents overlap by
  >30% of the union height, recurse left then right (a two-column page);
  the recursion passes each half's width as the new image width —
  reproducing the reference's behavior verbatim, including its quirk that
  the right half keeps absolute x coordinates against a halved width
  (extractor.py:349);
- otherwise band-sort by (int(y_center/10)*10, x_center) — top-down rows of
  10px bands, left-to-right within a band; Python's sort is stable
  (extractor.py:356), which we preserve.

Pure Python + stdlib; wrapped by an applyInArrow operator per (doc, page)
in operators/layout.py and unit-tested directly.
"""

from __future__ import annotations


def _points(box):
    if len(box) == 4 and isinstance(box[0], (int, float)):
        x1, y1, x2, y2 = box
        return [[x1, y1], [x2, y1], [x2, y2], [x1, y2]]
    return [[float(p[0]), float(p[1])] for p in box]


def _center(points):
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    return (sum(xs) / len(xs), sum(ys) / len(ys))


def sort_boxes(lines: list[dict], image_width: float) -> list[dict]:
    """Sort line dicts (each with a 'box' field) into reading order."""
    if not lines:
        return []
    lines = [dict(l, box=_points(l["box"])) for l in lines]

    if len(lines) > 10:
        mid_x = image_width / 2
        left = [l for l in lines if _center(l["box"])[0] < mid_x]
        right = [l for l in lines if _center(l["box"])[0] >= mid_x]
        if left and right:
            y_min_l = min(min(p[1] for p in l["box"]) for l in left)
            y_max_l = max(max(p[1] for p in l["box"]) for l in left)
            y_min_r = min(min(p[1] for p in l["box"]) for l in right)
            y_max_r = max(max(p[1] for p in l["box"]) for l in right)
            overlap = max(0.0, min(y_max_l, y_max_r) - max(y_min_l, y_min_r))
            total_h = max(y_max_l, y_max_r) - min(y_min_l, y_min_r)
            if total_h > 0 and overlap / total_h > 0.3:
                return (sort_boxes(left, mid_x)
                        + sort_boxes(right, image_width - mid_x))

    def key(line):
        c = _center(line["box"])
        return (int(c[1] / 10) * 10, c[0])

    return sorted(lines, key=key)  # stable, like the reference


def make_boxes(doc_index: int, seed: int = 42) -> tuple[list[dict], float]:
    """Deterministic synthetic positioned-text fixture: single- or
    two-column pages of line boxes (pure function of (seed, doc_index))."""
    import random

    rng = random.Random(seed * 7_368_787 + doc_index)
    width = 1000.0
    lines: list[dict] = []
    two_col = rng.random() < 0.5
    n = rng.randint(12, 30)
    for i in range(n):
        if two_col:
            col = rng.random() < 0.5
            x0 = rng.uniform(40, 120) + (0 if col else 520)
            w = rng.uniform(250, 380)
        else:
            x0 = rng.uniform(40, 150)
            w = rng.uniform(500, 800)
        y0 = rng.uniform(30, 1200)
        h = rng.uniform(12, 28)
        lines.append({
            "line_id": i,
            "text": f"line {doc_index}-{i}",
            "box": [round(x0, 2), round(y0, 2), round(x0 + w, 2), round(y0 + h, 2)],
        })
    return lines, width
