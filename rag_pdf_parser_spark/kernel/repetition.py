"""Gopher repetition counts (Rae et al. 2021 §A1.1) for one document.

Integers only. The caller supplies the lowercase word tokens (the JVM
`split(trim())` + `lower` the other text gates share) and turns the counts
into fractions and the keep flag, so neither case mapping nor float
rounding is re-implemented here. Run per row by
`functions.with_repetition_stats`; the DuckDB twin is
`__spark_entry__._repetition_filters_sql`.
"""

from __future__ import annotations

from collections import Counter


def repetition_counts(toks: list[str], text: str | None) -> tuple[int, ...]:
    """The 12 counts, in output order:

    - top 2/3/4-gram chars: count × len of the most frequent word n-gram,
      ties to the smallest gram (0 when there is none);
    - dup 5..10-gram chars: Σ (c−1)·len over distinct n-grams;
    - duplicate paragraphs Σ (c−1), their chars Σ (c−1)·len, and the
      paragraph count. Paragraphs are the `\\n\\n`-separated pieces of
      `text`, space-trimmed (Spark `trim`), non-empty; NULL text is empty.

    An n-gram is n consecutive tokens joined by one space; lengths are in
    code points, as Spark's `length`."""
    out = []
    grams = toks
    for n in range(2, 11):
        grams = [g + " " + t for g, t in zip(grams, toks[n - 1:])]
        counts = Counter(grams)
        if n <= 4:
            top = min(counts.items(), key=lambda gc: (-gc[1], gc[0]),
                      default=("", 0))
            out.append(top[1] * len(top[0]))
        elif len(counts) == len(grams):
            # no repeated n-gram, so no repeated longer gram either
            out += [0] * (11 - n)
            break
        else:
            out.append(sum((c - 1) * len(g) for g, c in counts.items()))
    paras = [p for p in (s.strip(" ") for s in (text or "").split("\n\n"))
             if p]
    pc = Counter(paras)
    out += [len(paras) - len(pc),
            sum((c - 1) * len(p) for p, c in pc.items()),
            len(paras)]
    return tuple(out)
