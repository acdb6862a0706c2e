"""Range (interval) join — another join shape Spark's planner handles badly
by default: `L.ts BETWEEN R.start AND R.end` with only inequality
conditions becomes BroadcastNestedLoopJoin (O(|L|·|R|) per key group).

Binned formulation (the standard fix, cf. Databricks' range-join hints /
interval trees in batch systems): pick a bin width, explode each interval
into the bins it covers, tag each left row with its single bin, equi-join
on (key, bin), then apply the exact predicate. Each (row, interval) match
is found in EXACTLY the row's bin — no post-join dedup needed.

Cost: shuffle ∝ |L| + |R|·(avg interval span / bin width), all hash joins;
pick `bin_width` near the median interval length so the explosion factor
stays O(1). Skew on a hot key is bounded by bins (time spreads it).
Reference has no temporal joins; this extends the as-of family
(operators/asof.py) to containment semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sec_col(df: DataFrame, c: str, qualified: str):
    """Epoch seconds for binning/predicates: numeric columns pass through
    as DOUBLE (fractional seconds preserved — a long cast would truncate
    and misjoin at sub-second boundaries); TIMESTAMP/DATE/STRING go via
    unix_timestamp (whole seconds, Spark semantics)."""
    dt = dict(df.dtypes)[c]
    if dt in ("bigint", "int", "smallint", "tinyint", "double",
              "float") or dt.startswith("decimal"):
        return F.col(qualified).cast("double")
    return F.unix_timestamp(F.col(qualified))


def range_join_binned(left: DataFrame, right: DataFrame, on: str,
                      ts: str, start: str, end: str,
                      bin_width_sec: int = 900) -> DataFrame:
    """left rows matched to right intervals with
    ``right.start <= left.ts < right.end``, same key `on`.

    Inner join: a left row in no interval has no output row. Timestamps
    may be TIMESTAMP/DATE/STRING (epoch via unix_timestamp) or
    already-numeric epoch seconds (used as-is — unix_timestamp rejects
    numeric input).
    """
    def sec(df: DataFrame, c: str):
        return _sec_col(df, c, c)

    l_bin = F.floor(sec(left, ts) / bin_width_sec)
    r_lo = F.floor(sec(right, start) / bin_width_sec)
    # end is EXCLUSIVE: the last bin able to hold a match is the bin of
    # sup{ts < end} = ceil(end/w) - 1, exact for integer ends (multiple of
    # w ⇒ previous bin) AND fractional ends (900.2 with w=900 ⇒ bin 1 —
    # floor((end-1)/w) dropped that bin and silently lost matches).
    r_hi = F.ceil(sec(right, end) / bin_width_sec) - F.lit(1)
    l_tag = left.withColumn("__bin", l_bin)
    r_tag = right.withColumn(
        "__bin", F.explode(F.sequence(r_lo, F.greatest(r_hi, r_lo)))
    )
    joined = l_tag.alias("l").join(
        r_tag.alias("r"),
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("l.__bin") == F.col("r.__bin"))
        & (_sec_col(right, start, f"r.{start}")
           <= _sec_col(left, ts, f"l.{ts}"))
        & (_sec_col(left, ts, f"l.{ts}")
           < _sec_col(right, end, f"r.{end}")),
    )
    out_cols = [F.col(f"l.{c}") for c in left.columns]
    out_cols += [F.col(f"r.{c}").alias(c) for c in right.columns if c != on]
    return joined.select(*out_cols)
