"""MERGE-equivalent maintenance for the mutable stores (r3 verdict #3).

The engine keeps two long-lived mutable tables:

- the pipeline's manifest — its resume table, commit log and dedup log
  (`text_hash`, plans/pipeline.py), grown by one batch dir per run, and
- the LSH bucket store the incremental admit writes, per increment or
  per streaming micro-batch (streaming/minhash.py), a bare parquet
  append.

Store appends accumulate duplicate rows (harmless for correctness — the
probe is a semi-join — but scan cost grows without bound). SURVEY §1.1
maps these to Delta/Iceberg tables whose MERGE/rewriteDataFiles would
compact them; the engine does not depend on the Iceberg jars, so
`compact_lsh_store` implements the same job: read → dropDuplicates →
rewrite → ATOMIC SWAP.

Swap protocol (commit = one POSIX dir rename, same primitive as the
pipeline's manifest commit):

    1. write the compacted table to  <path>.__compact_tmp
    2. rename <path>            →  <path>.__compact_trash
    3. rename <path>.__compact_tmp → <path>                ← COMMIT
    4. rmtree  <path>.__compact_trash

A crash between (2) and (3) leaves the store briefly ABSENT — readers must
call `recover_store` first (it undoes a half-finished swap by renaming the
trash back). On a real deployment the whole dance is a single Iceberg
metadata swap; this module documents and tests the exact same commit
semantics on plain dirs.

Writer exclusion is ENFORCED, not assumed (r4 verdict #9): every compact_*
acquires the same `plans.lease.WriterLease` on the store's parent dir that
`ExtractionPipeline.run` takes on its out_dir — a compaction racing a live
pipeline (or another compaction) raises LeaseHeldError instead of swapping
files out from under it. The LSH store's one writer, the incremental
admit (which the streaming gate calls per micro-batch), takes the same
lease on the store's parent dir.

`compact_output` extends the same two-rename commit to the pipeline's
MANIFEST (r4 verdict #7): committed batches are folded into one base
batch — content sinks first (appended UNCOMMITTED under the new base
batch_id, invisible), then the manifest dir is atomically swapped to a
commit log containing only the base batch, then the now-orphaned old
content partitions are vacuumed under the held lease. Readers see the old
batches right up to the manifest swap and exactly the base batch after
it; a crash at any rename is recovered by `recover_store`, which the
pipeline calls at every committed-read entry point.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lease import WriterLease


def _tmp(path: str) -> str:
    return path.rstrip("/") + ".__compact_tmp"


def _trash(path: str) -> str:
    return path.rstrip("/") + ".__compact_trash"


def recover_store(path: str) -> bool:
    """Undo a swap that died between the two renames (store dir missing,
    trash present): the old store is intact in the trash — rename it back.
    Idempotent; returns True when a recovery happened. Call before reading
    a store that a crashed compaction may have left half-swapped."""
    if not os.path.exists(path) and os.path.exists(_trash(path)):
        os.rename(_trash(path), path)
        return True
    return False


def atomic_swap(path: str) -> None:
    """Publish <path>.__compact_tmp as <path> (steps 2-4 above)."""
    if os.path.exists(_trash(path)):  # leftover from an earlier crash
        shutil.rmtree(_trash(path))
    os.rename(path, _trash(path))
    os.rename(_tmp(path), path)
    shutil.rmtree(_trash(path))


def compact_output(spark: SparkSession, out_dir: str) -> dict:
    """Fold an ExtractionPipeline out_dir's committed ``batch_id=`` batches
    into ONE base batch — manifest maintenance (r4 verdict #7). The commit
    log grows a dir per run forever; after thousands of runs the listing
    and the per-sink small-file count dominate. Protocol, under the held
    writer lease (no run can start or commit while it proceeds):

        1. read committed rows of each content sink, append them under
           ``batch_id=base-<token>``   — UNCOMMITTED, invisible to readers
        2. write the committed manifest rows to manifest.__compact_tmp as
           the single partition ``batch_id=base-<token>``
        3. atomic_swap(manifest)       ← COMMIT: the log now lists exactly
           the base batch, whose content rows are the same rows
        4. vacuum the now-orphaned old content partitions (age 0 is safe:
           the lease guarantees no writer is in flight)

    Crash anywhere before (3): extra uncommitted base partitions that the
    age-guarded vacuum reclaims — state is the pre-compaction one. Crash
    between the two renames inside (3): `recover_store` (called by every
    pipeline committed-read entry point) restores the old manifest. Crash
    after (3): committed state is the base batch; orphans age out.

    Readers therefore see the pre-compaction batches up to the instant of
    the swap and exactly-equal rows after it, the dedup log (`text_hash`)
    included: the manifest is read with MANIFEST_SCHEMA, so batches
    written before the column existed read it as NULL instead of a
    schema inferred from one file dropping it. The base batch is written
    in the sinks' own format (`ExtractionPipeline.sink_format`). Returns
    {"batches_before", "batches_after", "removed_dirs"}.
    """
    from .pipeline import ExtractionPipeline

    p = ExtractionPipeline(spark, out_dir)
    with WriterLease(out_dir) as lease:
        ids = p.committed_batch_ids()
        if len(ids) <= 1:
            return {"batches_before": len(ids), "batches_after": len(ids),
                    "removed_dirs": 0}
        base = f"base-{uuid.uuid4().hex[:12]}"
        fmt = p.sink_format() or "parquet"
        for sink in (p.docs_path, p.blocks_path, p.chunks_path):
            if not os.path.isdir(sink):
                continue
            rows = (spark.read.format(fmt).load(sink)
                    .where(F.col("batch_id").isin(ids))
                    .withColumn("batch_id", F.lit(base)))
            (rows.write.mode("append").partitionBy("batch_id")
             .format(fmt).save(sink))
        manifest = (p.read_manifest()
                    .where(F.col("batch_id").isin(ids))
                    .withColumn("batch_id", F.lit(base)))
        tmp = _tmp(p.manifest_path)
        if os.path.exists(tmp):  # leftover from an earlier crash
            shutil.rmtree(tmp)
        manifest.write.partitionBy("batch_id").parquet(tmp)
        # commit-point validation: the content fold above can run long; if
        # the lock went stale and a pipeline run stole it and COMMITTED a
        # new batch, swapping our pre-steal commit log would erase that
        # batch's manifest entry and the vacuum below would delete its
        # content — silent loss of a committed batch. Abort instead.
        lease.assert_held()
        lease.touch()
        atomic_swap(p.manifest_path)
        removed = p.vacuum_uncommitted(0)
        return {"batches_before": len(ids), "batches_after": 1,
                "removed_dirs": removed}


def compact_lsh_store(spark: SparkSession, path: str) -> dict:
    """LSH store maintenance (the store the incremental admit writes,
    per increment or per streaming micro-batch — streaming/minhash.py):
    read → whole-row dropDuplicates → rewrite → atomic swap, holding the
    parent-dir writer lease throughout (module docstring). Deduping whole
    (band, bucket, id, bp) rows keeps every co-bucketed OWNER — two
    canonical docs legitimately share a bucket below the Jaccard threshold,
    and dropping either would let its future near-dups probe, miss and be
    admitted forever. What gets reclaimed: rows re-appended by crashed and
    retried writers, and the per-append small files. The bp partition
    layout is re-established (one file per bp dir) so probes stay pruned,
    and the store's _STORE_META.json (bp modulus + signature config) rides
    the atomic swap — bp values are preserved verbatim, so the modulus they
    were computed with must be too, through every crash point.

    Returns {"rows_before", "rows_after", "files_before", "files_after"}.
    """
    from ..streaming.minhash import _META_NAME

    def n_files() -> int:
        return sum(len([f for f in fs if f.endswith(".parquet")])
                   for _, _, fs in os.walk(path))

    with WriterLease(os.path.dirname(path.rstrip("/")) or ".") as lease:
        # recover INSIDE the lease: an un-leased recover_store could
        # resurrect the trash dir of a CONCURRENT compaction sitting
        # between its two swap renames, colliding with its second rename
        recover_store(path)
        df = spark.read.parquet(path)
        files_before = n_files()
        rows_before = df.count()
        # one output file per bp dir: each key lands in one shuffle task,
        # and AQE sizes the (unnamed) shuffle width. The tmp write is an
        # ACTION that completes before any rename below — the source read
        # and the swap never overlap
        df.dropDuplicates().repartition("bp").write.mode("overwrite") \
            .partitionBy("bp").parquet(_tmp(path))
        # the meta must TRAVEL WITH the commit rename — copying it after
        # the swap would leave a meta-less store if the process dies in
        # between (reopening the silent-mismatch hole the meta closes)
        meta = os.path.join(path, _META_NAME)
        if os.path.exists(meta):
            shutil.copy2(meta, os.path.join(_tmp(path), _META_NAME))
        # commit-point validation (same rule as ExtractionPipeline.run): a
        # long compaction whose lock went stale and was stolen must abort
        # HERE — swapping would discard rows the stealing writer appended
        # to the store after our read. touch() first so a healthy
        # compaction never looks stale to the next acquirer.
        lease.assert_held()
        lease.touch()
        atomic_swap(path)
        return {"rows_before": rows_before,
                "rows_after": spark.read.parquet(path).count(),
                "files_before": files_before, "files_after": n_files()}
