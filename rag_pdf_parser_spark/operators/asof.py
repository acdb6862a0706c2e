"""As-of (time-travel) join — a custom operator Spark's built-ins lack.

For each left row, attach the most recent right row with
``right.ts <= left.ts`` within the same key — the standard enrichment join
of event pipelines (price as-of trade, config as-of event, login as-of
action). The reference has no temporal joins; this generalizes its W5
section carry-forward (ir_processor.py:258-260: "the state in effect at this
point in the sequence") from one table to two.

Spark-first formulation — the union-window trick, NO cross/range join:

1. tag both sides and UNION them on (key, ts) with right rows sorting
   BEFORE left rows at equal ts (inclusive as-of);
2. one window per key ordered by (ts, side): ``last(right_payload,
   ignoreNulls=True)`` carries the in-effect right row onto every left row;
3. filter back to left rows.

Cost: ONE shuffle of |L|+|R| rows on the key (the minimum possible — any
as-of join must co-locate key groups) + an in-partition sort. This is the
shape that survives 100 TB: no range-explosion, no per-key collect, skew
bounded by the hottest key's row count (salt upstream if one key dominates).
DuckDB's native ``ASOF JOIN`` provides the independent oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str, ts: str,
              payload: list[str] | None = None) -> DataFrame:
    """left ⟕-asof right: all left columns + the latest right `payload`
    columns at or before the left row's `ts` (null when none precedes).

    Duplicate right rows at the same (key, ts) are broken DETERMINISTICALLY:
    the window order includes a content hash of the right payload, so the
    winner is the same row at any parallelism / partitioning (the repo's
    determinism discipline, SURVEY §7.4.1) — not whichever row the sort
    happened to place last.
    """
    payload = payload or [c for c in right.columns if c not in (on, ts)]
    l_tag = left.select(
        F.col(on).alias("__k"), F.col(ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in [ts] + payload])
                         .alias("s")).schema["s"].dataType
        ).alias("__r"),
        F.lit(0).cast("long").alias("__tb"),
    )
    r_payload = F.struct(*[F.col(c) for c in [ts] + payload])
    r_tag = right.select(
        F.col(on).alias("__k"), F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns])
                        .alias("s")).schema["s"].dataType
        ).alias("__l"),
        r_payload.alias("__r"),
        # deterministic tiebreak for duplicate (key, ts) right rows:
        # content hash of the payload — stable across partitionings
        F.xxhash64(r_payload).alias("__tb"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side", "__tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        l_tag.unionByName(r_tag)
        .withColumn("__eff", F.last("__r", ignorenulls=True).over(w))
        .where(F.col("__side") == 1)
    )
    out_cols = [F.col("__l")[c].alias(c) for c in left.columns]
    out_cols += [F.col("__eff")[ts].alias(f"asof_{ts}")]
    out_cols += [F.col("__eff")[c].alias(f"asof_{c}") for c in payload]
    return carried.select(*out_cols)
