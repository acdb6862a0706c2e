"""Pages-table source helpers.

In production this is an Iceberg table scan (`spark.read.table(...)`) — the
Iceberg jars aren't in this image, so parquet stands in (identical DataFrame
downstream; SURVEY §2.1 S1). The synthetic generators give the deterministic
fixture described in FIXTURES.md §1, built as Arrow data on either the
driver (`synth_pages`) or the executors (`synth_pages_dist`).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..datagen import make_page, make_pages
from ..operators.arrowmap import map_rows
from ..schema import PAGES_SCHEMA


def synth_pages(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic synthetic pages DataFrame (`make_pages`' default
    seed), built on the driver from one Arrow table."""
    return spark.createDataFrame(pa.Table.from_pylist(make_pages(n)),
                                 schema=PAGES_SCHEMA)


def synth_pages_dist(spark: SparkSession, n: int,
                     seed: int = 42) -> DataFrame:
    """Distributed deterministic pages generation: row i is a pure function
    of (seed, i) (datagen.make_page), so generation parallelizes with
    spark.range + mapInArrow over the session's shuffle partitions — the
    only way to materialize fixture tables at bench scale (the driver never
    holds the corpus)."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def gen(i):
        page = make_page(i, seed)
        return [[page[c] for c in PAGES_SCHEMA.names]]

    return (
        spark.range(n)
        .repartition(parts)
        .mapInArrow(map_rows(gen, PAGES_SCHEMA), PAGES_SCHEMA)
    )


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)

