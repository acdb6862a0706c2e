#!/usr/bin/env python
"""Recall@k of the approximate similarity operators vs exact brute force
(r3 verdict #9): quantifies the accuracy/cost trade-off of the 100-TB ANN
paths over the sf embeddings table. Prints a markdown table for BENCH.md.

Usage: python scripts/ann_recall.py [sf_dir]  (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the local-mode Python workers import the engine too; they inherit the
# PYTHONPATH the session is started with, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from pyspark.sql import functions as F  # noqa: E402

from rag_pdf_parser_spark.operators.similarity import (  # noqa: E402
    ann_topk,
    brute_force_topk,
    ivf_topk,
    ivf_topk_from_index,
    write_ivf_index,
)
from rag_pdf_parser_spark.session import get_spark  # noqa: E402

K = 10
N_QUERIES = 50


def topk_sets(df):
    rows = df.collect()
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["cand_id"])
    return out


def recall(exact: dict[int, set], approx: dict[int, set]) -> float:
    num = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    den = sum(len(exact[q]) for q in exact)
    return num / den


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("local[32]", shuffle_partitions=32)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")) \
        .persist()
    n = emb.count()
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.where(F.col("vec_id") < N_QUERIES).persist()
    queries.count()

    t0 = time.time()
    exact = topk_sets(brute_force_topk(emb, queries, k=K))
    t_exact = time.time() - t0
    print(f"corpus n={n} dim={dim} k={K} queries={N_QUERIES} "
          f"brute-force {t_exact:.2f} s (recall denominator)\n")

    print("| operator | config | recall@10 | sec |")
    print("|---|---|---|---|")
    print(f"| brute_force_topk | exact | 1.000 | {t_exact:.2f} |")

    for bands in (2, 4, 8):
        t0 = time.time()
        approx = topk_sets(ann_topk(emb, queries, dim=dim, k=K,
                                    n_bits=16, bands=bands))
        dt = time.time() - t0
        print(f"| ann_topk (RP-LSH) | n_bits=16 bands={bands} "
              f"| {recall(exact, approx):.3f} | {dt:.2f} |")

    for n_probe in (1, 2, 4, 8):
        t0 = time.time()
        approx = topk_sets(ivf_topk(emb, queries, k=K,
                                    n_lists=8, n_probe=n_probe))
        dt = time.time() - t0
        print(f"| ivf_topk | n_lists=8 n_probe={n_probe} "
              f"| {recall(exact, approx):.3f} | {dt:.2f} |")

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "ivf")
        cents = write_ivf_index(emb, path, n_lists=8)
        for n_probe in (1, 2, 4, 8):
            t0 = time.time()
            approx = topk_sets(ivf_topk_from_index(
                spark, path, cents, queries, k=K, n_probe=n_probe))
            dt = time.time() - t0
            print(f"| ivf_disk_topk | n_lists=8 n_probe={n_probe} "
                  f"| {recall(exact, approx):.3f} | {dt:.2f} |")

    spark.stop()


if __name__ == "__main__":
    main()
