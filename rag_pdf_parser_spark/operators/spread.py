"""Input-parallelism guard for CPU-heavy operators (r7, guide §2.5).

Spark sizes scan and post-shuffle partitions by BYTES. Operators whose
per-row cost is dominated by expression CPU (gram folds, shingle
explodes, per-pair set intersections) can therefore land on a handful of
tasks when their input is byte-small — the pathological case being a
single unsplittable file (one parquet row group ⇒ ONE scan task no matter
what `maxPartitionBytes` says), where the whole operator runs
single-core while the rest of the cluster idles. Measured at sf0.1 on
local[32]: decontamination 3.0 → 0.6 s, curation funnel 4.3 → 1.5 s,
MinHash-LSH 2.7 → 1.5 s purely from spreading the scan.

`ensure_parallelism` repartitions ONLY when the input's planned partition
count is below the session's default parallelism — at warehouse scale a
corpus scan carries orders of magnitude more splits than the cluster has
cores, so the guard is a structural no-op there and the operator's
no-corpus-shuffle shape is preserved exactly where it matters. The one
regime where it fires on a big cluster is the same one it fires on here:
an input whose planned parallelism cannot feed the cluster (few
unsplittable files, a heavily-filtered coalesced intermediate) — the
case guide §2.5 says to repartition right after.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

_PKG = "org.apache.spark.sql.execution."


def plan_nodes(df: DataFrame) -> Iterator:
    """Every node of `df`'s executed physical plan (py4j objects),
    depth-first. Descends into what a plain child walk misses: AQE's
    current plan, a query stage's plan, and inner children (a cached
    relation's plan). Match nodes by class or `nodeName()`, never by plan
    text — a scan path or a column name can spell any operator's name."""
    forname = df.sparkSession._jvm.Class.forName
    aqe = forname(_PKG + "adaptive.AdaptiveSparkPlanExec")
    stage = forname(_PKG + "adaptive.QueryStageExec")
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        yield node
        if aqe.isInstance(node):
            todo.append(node.executedPlan())
        elif stage.isInstance(node):
            todo.append(node.plan())
        else:
            for seq in (node.children(), node.innerChildren()):
                todo.extend(seq.apply(i) for i in range(seq.size()))


def has_exchange(df: DataFrame) -> bool:
    """True iff `df`'s plan holds a shuffle or broadcast Exchange node."""
    exchange = df.sparkSession._jvm.Class.forName(_PKG + "exchange.Exchange")
    return any(exchange.isInstance(n) for n in plan_nodes(df))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin-spread `df` to the session's default parallelism iff
    its planned partition count is lower; otherwise the input is returned
    untouched. Keyless repartition is retry-deterministic
    (sort-before-repartition is on by default, SPARK-23207).

    The guard only ever probes EXCHANGE-FREE plans (scans, checkpoints,
    projections): under AQE, `df.rdd` on a plan holding a shuffle or
    broadcast runs those stages as hidden jobs at plan-build time, and
    that work re-runs when the returned DataFrame executes. A plan with an
    Exchange node (`has_exchange`, cached inputs' plans included) doesn't
    need the guard anyway: its post-shuffle width is AQE-governed (see
    session.py's minPartitionSize floor). For exchange-free plans `df.rdd`
    compiles without a job, and its partition count (file splits /
    checkpoint partitions) is exact."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if has_exchange(df):
            return df
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — un-plannable input (e.g. a
        return df      # streaming relation): leave untouched
    if current < target:
        return df.repartition(target)
    return df
