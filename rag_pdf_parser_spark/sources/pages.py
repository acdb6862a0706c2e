"""Pages-table source helpers.

In production this is an Iceberg table scan (`spark.read.table(...)`) — the
Iceberg jars aren't in this image, so parquet stands in (identical DataFrame
downstream; SURVEY §2.1 S1). The synthetic generator gives the deterministic
fixture described in FIXTURES.md §1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..datagen import pages_pandas
from ..schema import PAGES_SCHEMA


def synth_pages(spark: SparkSession, n: int, seed: int = 42,
                partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic pages DataFrame (Arrow-converted)."""
    df = spark.createDataFrame(pages_pandas(n, seed), schema=PAGES_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


def synth_pages_dist(spark: SparkSession, n: int, seed: int = 42,
                     partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages generation: row i is a pure function
    of (seed, i) (datagen.make_page), so generation parallelizes with
    spark.range + mapInPandas — the only way to materialize fixture tables at
    bench scale (the driver never holds the corpus)."""
    import pandas as pd

    from ..datagen import make_page

    parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def gen(it):
        for pdf in it:
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["warc_ts"] = pd.to_datetime(out["warc_ts"], utc=True).dt.tz_localize(None)
            yield out[["url", "warc_ts", "html", "text", "lang"]]

    return (
        spark.range(n)
        .repartition(parts)
        .mapInPandas(gen, PAGES_SCHEMA)
    )


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)

