"""The persisted MinHash-LSH seen-store, and the streaming near-dup gate
that admits each micro-batch through it.

The 10^12-row crawl shape: the seen-store is an append-only parquet table
PARTITIONED by ``bp = pmod(xxhash64(band, bucket), P)``, P the store's
bp modulus — the same hash-bucketed layout an Iceberg table would use. A
store lookup reads it PRUNED to the probing batch's bp partitions (an isin
over the partition column → static partition pruning): a batch of B docs
touches at most min(B·bands, P) partitions, NOT the whole
monotonically-growing store.

The store has ONE admission path: the incremental admit
(`operators.dedup.dedup_corpus_incremental`), which writes (band, bucket,
id, bp) rows through the `open_store` / `store_buckets` / `probe_store` /
`append_store` functions below, so the layout, modulus and signature-config
checks live in one place. The store's `_STORE_META.json` records its bp
modulus and the recipe's signature config (`operators.dedup.LSH_CONFIG`):
a new store takes `STORE_PARTITIONS`, an existing one is always read and
appended with the modulus it records, and a store whose recorded config
differs from the recipe's is refused. Rows carry the OWNER id: the admit
verifies every collision with exact Jaccard against the canonical doc it
points at, so a shared bucket alone never drops a document. Duplicate rows
accumulate across appends (they change no join result — the lookup is a
semi-join); `plans.maintenance.compact_lsh_store` is the MERGE-equivalent
job that rewrites the store with whole-row duplicates collapsed, keeping
the partitioned layout and every owner.

`run_streaming_dedup` is the streaming form: each micro-batch is one
admit call, with the stream's output directory as the canonical table.
A micro-batch therefore inherits the admit's writer lease (the one
`compact_lsh_store` takes), its crash order (buckets first, then canon)
and its resume anti-join (ids already in the output are skipped), so a
retried micro-batch is admitted exactly once, and the stream admits what
the admit run over the same micro-batches in order admits.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import LSH_CONFIG
from ..plans.maintenance import recover_store

#: bp modulus of a NEW store — at 10^12 scale raise this so each
#: partition's bucket file set stays executor-sized; the lookup cost per
#: micro-batch is bounded by the batch's own bucket count either way. The
#: value is BAKED INTO the store's bp values, so it is recorded in
#: _STORE_META.json when the store is created, and an existing store keeps
#: (and is always read with) its recorded modulus: reading with another
#: would prune the wrong partitions and re-admit every seen duplicate.
#: Changing this constant therefore affects new stores only; to move an
#: existing store, rewrite it (recompute bp and its meta).
STORE_PARTITIONS = 64

#: the meta fields recording the recipe's signature config
_META_CFG = {f"lsh_{k}": v for k, v in LSH_CONFIG.items()}

_META_NAME = "_STORE_META.json"  # leading '_': ignored by Spark's listing


def read_store_meta(seen_dir: str) -> dict | None:
    """The full persisted store metadata dict, or None if absent."""
    p = os.path.join(seen_dir, _META_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_store_meta(seen_dir: str, n_parts: int,
                     extra: dict | None = None) -> None:
    """Atomic (tmp + rename) and idempotent: an in-place truncate-write
    could be caught mid-flush by a crash, leaving unparseable JSON that
    bricks every later `open_store`; a no-op when the meta already holds
    the same values (the per-micro-batch call path).

    `extra` merges additional layout-defining fields into the meta (the
    LSH signature config — bucket values are only comparable when
    n/num_perm/bands/shingle match)."""
    existing = read_store_meta(seen_dir)
    if existing is not None \
            and existing.get("store_partitions") == int(n_parts) \
            and all(existing.get(k) == v for k, v in (extra or {}).items()):
        return  # nothing to change; never drop fields another writer set
    meta = {**(existing or {}), "store_partitions": int(n_parts),
            **(extra or {})}
    os.makedirs(seen_dir, exist_ok=True)
    tmp = os.path.join(seen_dir, _META_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(seen_dir, _META_NAME))


def open_store(store_dir: str) -> tuple[int, bool]:
    """(n_parts, has_rows) for the LSH store at `store_dir`, after every
    precondition a reader or appender relies on — filesystem listing and
    the meta file only, no Spark job:

    - a compaction that died between its two swap renames left the store
      in the trash dir — restore it before anything reads or appends
      (appending first would strand the old buckets forever);
    - `n_parts` is the bp modulus the meta records (reading with another
      would prune the WRONG partitions and silently re-admit seen
      duplicates), or `STORE_PARTITIONS` for a store with no meta yet;
    - the recorded signature config must equal `LSH_CONFIG` (bucket
      values under different configs are incomparable);
    - a dir with ROOT parquet files and no bp= partitions is a
      pre-bp-layout (flat) store — treating it as empty would re-admit
      every seen duplicate and then corrupt the layout by appending
      partitions next to flat files.

    `has_rows` is False for a missing store and for one holding only the
    meta file (crash between meta write and first append)."""
    recover_store(store_dir)
    meta = read_store_meta(store_dir) or {}
    n_parts = meta.get("store_partitions", STORE_PARTITIONS)
    if any(k in meta and meta[k] != v for k, v in _META_CFG.items()):
        raise ValueError(
            f"LSH store at {store_dir} was written with "
            f"{ {k: meta.get(k) for k in _META_CFG} }, but the recipe's "
            f"config is {_META_CFG} — bucket values under different "
            "signature configs are incomparable and every seen duplicate "
            "would be silently re-admitted. Rebuild the store.")
    entries = os.listdir(store_dir) if os.path.isdir(store_dir) else []
    has_rows = any(d.startswith("bp=") for d in entries)
    if not has_rows and any(f.endswith(".parquet") for f in entries):
        raise ValueError(
            f"LSH store at {store_dir} has the legacy FLAT layout (root "
            "parquet files, no bp= partitions) — rewrite it into the "
            "partitioned layout (read, add bp via store_partition_expr, "
            "write partitionBy('bp'), write_store_meta) before resuming")
    return n_parts, has_rows


def store_partition_expr(band: Column, bucket: Column,
                         n_parts: int = STORE_PARTITIONS) -> Column:
    """bp = pmod(xxhash64(band, bucket), n_parts) — the store's partition
    key. Hashing (band, bucket) jointly spreads every band's buckets over
    all partitions (band alone would give `bands` hot partitions)."""
    return F.pmod(F.xxhash64(band, bucket), F.lit(n_parts)).cast("int")


def store_buckets(docs: DataFrame, id_col: str, text_col: str,
                  n_parts: int) -> DataFrame:
    """The (id, band, bucket, bp) table of `docs` under `LSH_CONFIG` — the
    config `open_store` checks and `append_store` records.

    localCheckpoint'ed (not cached): it feeds the bp collection, the probe
    and the append, and the caller appends to the store the probe reads —
    a checkpoint is immune to that invalidation and leaves nothing to
    unpersist per micro-batch."""
    from ..operators.dedup import lsh_buckets

    return (
        lsh_buckets(docs, id_col, text_col, flavor="xx", **LSH_CONFIG)
        .withColumn("bp", store_partition_expr(F.col("band"),
                                               F.col("bucket"), n_parts))
        .localCheckpoint(eager=True)
    )


def read_store_pruned(spark: SparkSession, seen_dir: str,
                      bps: list[int]) -> DataFrame:
    """The store lookup, pruned to the given bp partitions. The literal
    isin over the partition column becomes a static PartitionFilter
    (asserted in tests): orphan partitions' files are never opened."""
    return spark.read.parquet(seen_dir).where(
        F.col("bp").isin([int(b) for b in bps]))


def probe_store(spark: SparkSession, store_dir: str,
                buckets: DataFrame) -> DataFrame:
    """The store rows sharing a bp partition with `buckets` (a
    `store_buckets` table). The bp values are control-plane metadata: at
    most n_parts ints collected from the checkpointed bucket table — never
    row data. Call only when `open_store` reported rows."""
    bps = [r["bp"] for r in buckets.select("bp").distinct().collect()]
    return read_store_pruned(spark, store_dir, bps)


def append_store(store_dir: str, n_parts: int,
                 buckets: DataFrame) -> None:
    """Record the layout (modulus + `LSH_CONFIG`) in the meta, then append the
    (band, bucket, id, bp) rows of `buckets`. Repartitioned by bp before
    the partitioned write: a W-partition DataFrame written partitionBy("bp")
    emits up to W×n_parts files per append (every future pruned read pays
    the listing+open cost); keyed by bp the append writes ≤ 1 file per bp
    dir. No width is named, so AQE coalesces the shuffle to the rows'
    size instead of running n_parts tasks for a few hundred rows."""
    write_store_meta(store_dir, n_parts, extra=_META_CFG)
    (buckets.select("band", "bucket", "id", "bp")
     .repartition("bp")
     .write.mode("append").partitionBy("bp").parquet(store_dir))


def run_streaming_dedup(spark: SparkSession, src_dir: str, schema,
                        out_dir: str, seen_dir: str, checkpoint_dir: str,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> None:
    """Drain available document files through the incremental admit
    (availableNow, one file per micro-batch): each micro-batch is one
    `dedup_corpus_incremental` call with `seen_dir` as its store and
    `out_dir` as its canonical table. The store and `out_dir` are the
    persistent state across micro-batches AND restarts — no in-memory
    streaming state to lose.
    Put `out_dir` under the store's parent dir so the admit's writer
    lease covers both tables."""
    from ..operators.dedup import dedup_corpus_incremental

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def process(batch: DataFrame, _bid: int) -> None:
        dedup_corpus_incremental(batch, seen_dir, out_dir, id_col=id_col,
                                 text_col=text_col)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
