"""Similarity search over embedding columns (training-data pipeline op).

Three paths over `embeddings(vec_id, embedding: array<float>, label)`:

- **brute-force cosine top-k** (the correctness baseline): cross-join the
  (small, broadcast) query set against the corpus, cosine via
  zip_with+aggregate (JVM, no UDF), row_number ≤ k with a deterministic
  (score desc, vec_id) tiebreak;
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures (bit =
  sign(dot(v, h_j)) for seeded deterministic hyperplanes), candidates =
  bucket collisions on any band, exact cosine re-rank within candidates.
  At 10^12 scale the corpus signature is precomputed once and bucketed on
  disk, so a query touches only matching buckets (partition pruning).

- **IVF** (`ivf_topk`, `write_ivf_index` / `ivf_topk_from_index`): a
  k-means coarse quantizer assigns every vector a list; a query re-ranks
  only its n_probe nearest lists.

All three rank with the same cosine expression and tiebreak, so
`brute_force_topk` is the reference the other two are checked against.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cosine_expr

#: most query rows the IVF paths collect to rank their probe lists (the
#: IVF contract is few-queries-vs-huge-corpus)
MAX_QUERIES = 4096


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k per query over the `embedding` column. Queries
    broadcast (small side)."""
    from .spread import ensure_parallelism

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("qv")
    )
    # per-(candidate, query) cosine is CPU-bound — spread a single-task
    # corpus scan before the broadcast cross-join (no-op at scan scale)
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("cand_id"), F.col("embedding").alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim)).astype("float64")


def rp_signature(df: DataFrame, dim: int, n_bits: int = 16) -> DataFrame:
    """Random-hyperplane LSH signature of the `embedding` column as a
    native expression: bit j = sign(dot(v, h_j)); hyperplanes are seeded
    literals (deterministic, identical on every executor — no closure
    capture)."""
    planes = _hyperplanes(dim, n_bits)
    sig = F.lit(0).cast("long")
    for j in range(n_bits):
        h = F.array(*[F.lit(float(x)) for x in planes[j]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), h,
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
    return df.withColumn("rp_sig", sig)


def ann_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_bits: int = 16, bands: int = 4) -> DataFrame:
    """LSH-bucketed approximate top-k over (`vec_id`, `embedding`): match
    on any signature band, exact cosine re-rank within candidates."""
    bits_per_band = n_bits // bands
    mask = (1 << bits_per_band) - 1

    def band_cols(df: DataFrame, prefix: str) -> DataFrame:
        out = rp_signature(df, dim, n_bits)
        entries = [
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("rp_sig"), b * bits_per_band)
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias("bucket"),
            )
            for b in range(bands)
        ]
        return out.select(
            F.col("vec_id").alias(f"{prefix}_id"),
            F.col("embedding").alias(f"{prefix}_v"),
            F.explode(F.array(*entries)).alias("bk"),
        ).select(f"{prefix}_id", f"{prefix}_v", "bk.band", "bk.bucket")

    cb = band_cols(corpus, "cand")
    qb = band_cols(queries, "query")
    cands = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "query_v", "cand_id", "cand_v")
        .distinct()
    )
    scored = cands.select(
        "query_id",
        "cand_id",
        F.round(cosine_expr(F.col("query_v"), F.col("cand_v")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _kmeans_fit(sample: np.ndarray, k: int, iters: int = 10,
                seed: int = 42) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (the coarse
    quantizer is a tiny model — fitting it on a bounded sample is standard
    IVF practice; only centroid LITERALS ship to executors)."""
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(sample), size=min(k, len(sample)), replace=False)
    cents = sample[np.sort(idx)].astype("float64").copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cents)):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def _nearest_centroid_expr(cents: np.ndarray):
    """Native expression: argmin over the `embedding` column's squared
    distances to centroid literals — JVM-side assignment, no UDF, no
    shuffle."""
    best_id = F.lit(0)
    best_d = None
    for j, c in enumerate(cents):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(F.col("embedding"), lit,
                       lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        if best_d is None:
            best_d, best_id = d, F.lit(j)
        else:
            best_id = F.when(d < best_d, F.lit(j)).otherwise(best_id)
            best_d = F.least(d, best_d)
    return best_id


def quantizer_sample(corpus: DataFrame, sample_n: int = 512) -> np.ndarray:
    """Deterministic bounded sample of the `embedding` column for the
    coarse quantizer: rows ranked by (xxhash64(vec_id), vec_id) — a stable
    pseudo-random order independent of partitioning — taken via
    TakeOrderedAndProject (per-partition top-N heaps, no global sort
    materialization). `limit` without an order is NOT
    stable across partitionings/runs in Spark; this is (SURVEY §7.4.1
    determinism discipline)."""
    rows = (
        corpus.select(F.col("vec_id").alias("__id"),
                      F.col("embedding").alias("__v"))
        .orderBy(F.pmod(F.xxhash64("__id"), F.lit(1_000_003)), "__id")
        .limit(sample_n)
        .collect()
    )
    return np.vstack([r["__v"] for r in rows]).astype("float64")


def _probe_lists(queries: DataFrame, cents: np.ndarray, n_probe: int,
                 caller: str) -> list[tuple]:
    """(query_id, query_v, list_id) for each query's `n_probe` nearest
    lists. The query side is collected — bounded by `MAX_QUERIES` (an
    unbounded collect here would be a driver OOM at scale; a large query
    side should rank probe lists distributedly via
    `_nearest_centroid_expr` instead)."""
    q_rows = queries.select("vec_id", "embedding") \
        .limit(MAX_QUERIES + 1).collect()
    if len(q_rows) > MAX_QUERIES:
        raise ValueError(
            f"{caller} query side exceeds MAX_QUERIES={MAX_QUERIES}; "
            "compute probe lists distributedly for this regime"
        )
    probe_rows = []
    for r in q_rows:
        qv = np.array(r["embedding"], dtype="float64")
        d = ((cents - qv[None, :]) ** 2).sum(axis=1)
        for lid in np.argsort(d, kind="stable")[:n_probe]:
            probe_rows.append((int(r["vec_id"]), list(map(float, qv)),
                               int(lid)))
    return probe_rows


def ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_lists: int = 8, n_probe: int = 2) -> DataFrame:
    """IVF approximate NN over (`vec_id`, `embedding`): deterministic
    k-means coarse quantizer (fit on a bounded deterministic sample of 512
    rows, seed 42), corpus assigned to its nearest list
    (native argmin expression), queries probe their `n_probe` nearest lists,
    exact cosine re-rank inside the probed lists.

    Scale path: at 10^12 rows the corpus is written partitioned by
    `list_id` (partition pruning makes a query touch only n_probe/n_lists
    of the data); here the same pruning happens via the list_id equi-join.
    The query side is collected to build the probe table
    (`_probe_lists`)."""
    sample = quantizer_sample(corpus)
    cents = _kmeans_fit(sample, n_lists)

    c_assigned = corpus.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cand_v"),
        _nearest_centroid_expr(cents).alias("list_id"),
    )

    # query → its n_probe nearest lists (tiny side: collect + literal map)
    probes = corpus.sparkSession.createDataFrame(
        _probe_lists(queries, cents, n_probe, "ivf_topk"),
        "query_id long, query_v array<double>, list_id int"
    )

    scored = (
        c_assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            F.round(cosine_expr(F.col("query_v"), F.col("cand_v")), 4)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def write_ivf_index(corpus: DataFrame, path: str, n_lists: int = 8,
                    sample_n: int = 512, seed: int = 42) -> np.ndarray:
    """Materialize the IVF layout the 100-TB path relies on: fit the coarse
    quantizer, assign every corpus `embedding` to its list, and write the
    corpus
    PARTITIONED BY list_id. A query then reads only its n_probe/n_lists
    partitions — real partition pruning at the storage layer, not a join
    optimization. Returns the centroids (the tiny model a reader needs)."""
    sample = quantizer_sample(corpus, sample_n)
    cents = _kmeans_fit(sample, n_lists, seed=seed)
    corpus.withColumn(
        "list_id", _nearest_centroid_expr(cents)
    ).write.mode("overwrite").partitionBy("list_id").parquet(path)
    return cents


def ivf_topk_from_index(spark, path: str, centroids: np.ndarray,
                        queries: DataFrame, k: int = 5,
                        n_probe: int = 2) -> DataFrame:
    """Query the on-disk IVF index: probe-list filter → partition-pruned
    scan (verify `PartitionFilters` in the plan) → exact cosine re-rank.
    The query side is collected to rank probe lists (`_probe_lists`, the
    same bound and driver-OOM guard as `ivf_topk`)."""
    corpus = spark.read.parquet(path)
    probe_rows = _probe_lists(queries, centroids, n_probe,
                              "ivf_topk_from_index")
    probes = spark.createDataFrame(
        probe_rows, "query_id long, query_v array<double>, list_id int"
    )
    wanted = sorted({int(r[2]) for r in probe_rows})
    pruned = corpus.where(F.col("list_id").isin(wanted))
    scored = (
        pruned.join(F.broadcast(probes), "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("cand_id"),
            F.round(cosine_expr(F.col("query_v"), F.col("embedding")), 4)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )
