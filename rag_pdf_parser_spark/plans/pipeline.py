"""The end-to-end extraction pipeline — resumable, skew-aware, manifest-logged.

Spark-first restatement of the reference's CLI lifecycle (SURVEY §3.1):

    pages scan → resume anti-join (vs manifest)           [J3, persistent.py doc_status]
              → dedup anti-join (vs seen_hashes)          [F7/J2, main.py:43-46]
              → salted repartition by xxhash64(url)       [north_rule skew defusal]
              → mapInArrow extraction (kernel)            [M1/M2 fused]
              → docs + exploded blocks + chunks           [S3/W1/W6]
              → parquet sinks + manifest append           [K1-K4, K7]

The manifest is the resume/lineage mechanism the north rule requires: one row
per (run, partition, url) with bytes in/out and failure code. Resume = left
anti-join of pages against manifest urls — exactly the reference's
SQLite doc_status skip (persistent.py:369-406) as a relational op. Per-url
(not per-partition-summary) rows keep resume exact under repartitioning;
a summary view aggregates them for metrics.

Commit protocol (crash-exactness across MID-JOB death, r3 verdict #2):
content sinks append under a per-run ``batch_id=<token>`` partition, and the
batch becomes visible only when its manifest directory is atomically renamed
into place — the manifest IS the commit log, and a batch is committed iff
``manifest/batch_id=<token>/`` exists:

    1. docs/blocks/chunks append partitioned by batch_id   (uncommitted)
    2. manifest rows staged to _staging/<token>            (uncommitted)
    3. os.rename(_staging/<token>, manifest/batch_id=<token>)  ← COMMIT

A crash anywhere before (3) leaves orphan batch partitions that committed
readers (`read_docs`/`read_blocks`/`read_chunks`) prune out by batch_id —
the rerun re-extracts those urls (the manifest never saw them) under a new
token, so committed output equals an uninterrupted run EXACTLY. Orphans are
reclaimed by `vacuum_uncommitted()`. The reference's doc_status marking
(persistent.py:369-406) has the same window with no committed-reader story.
POSIX rename is atomic on local/HDFS filesystems; on object stores the same
role is played by an Iceberg/metastore metadata swap (SURVEY §1.1 maps the
manifest to a Delta/Iceberg table — jars absent in this sandbox).
Hash registration (dedupe=True) runs after the commit point: a crash between
them loses only the *flagging* of future duplicates (at-least-once dedup),
never rows.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import (
    explode_blocks,
    explode_chunks,
    extract_docs,
)
from ..schema import MANIFEST_SCHEMA


class ExtractionPipeline:
    def __init__(self, spark: SparkSession, out_dir: str,
                 partitions: int | None = None,
                 lease_stale_sec: float = 3600.0) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.partitions = partitions
        self.lease_stale_sec = lease_stale_sec
        self.manifest_path = os.path.join(out_dir, "manifest")
        self.docs_path = os.path.join(out_dir, "docs")
        self.blocks_path = os.path.join(out_dir, "blocks")
        self.chunks_path = os.path.join(out_dir, "chunks")

    def _recover_manifest(self) -> None:
        # a manifest compaction (maintenance.compact_output) that died
        # between its two swap renames left the commit log in the trash
        # dir — restore before ANY read of committed state, or readers see
        # an empty table and a fresh run re-extracts everything
        from .maintenance import recover_store

        recover_store(self.manifest_path)

    # -- resume gate ----------------------------------------------------------
    def processed_urls(self) -> DataFrame | None:
        self._recover_manifest()
        if not os.path.exists(self.manifest_path):
            return None
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(
                self.manifest_path
            ).select("url").distinct()
        except Exception:  # noqa: BLE001 — empty/corrupt manifest = no resume state
            return None

    def pending(self, pages: DataFrame) -> DataFrame:
        done = self.processed_urls()
        if done is None:
            return pages
        return pages.join(done, "url", "left_anti")

    # -- run --------------------------------------------------------------------
    def run(self, pages: DataFrame, run_id: str = "run0",
            with_chunks: bool = True, fmt: str = "parquet",
            dedupe: bool = False,
            url_blocklist: DataFrame | None = None,
            url_blocklist_validate: bool = True,
            curate: bool = False) -> dict:
        """`fmt='json'` mirrors the reference's JSONL sinks (K2/K3,
        writer.py:110-165) — same rows, line-delimited; parquet is the
        scale default (columnar, prunable).

        `dedupe=True` wires in the reference's dedup gate (F7/J2,
        main.py:43-46): documents whose normalized-text hash was already
        registered (previous runs, via the persistent `seen_hashes` table)
        or already produced by a lexicographically-smaller url in THIS run
        are NOT written to the content sinks — but they ARE recorded in
        the manifest with failure_code='DUPLICATE', so resume never
        re-extracts them (exactly the reference's skip-if-seen +
        mark-status flow).

        `url_blocklist` (a DataFrame with a `host` column) switches on the
        C4-style URL gate (operators.urlfilter) BEFORE extraction: blocked
        pages never reach the Arrow stage — they are only recorded in the
        manifest as failure_code='URL_BLOCKED', so resume skips them
        forever and the expensive kernel pays nothing for them.

        `curate=True` wires the THREE text-quality gates (Gopher word
        stats, the Gopher repetition family, the hashed quality model —
        plans/curate.py) into the run, AFTER extraction and BEFORE the
        dedup gate (the `curate_corpus` funnel order): a doc failing a
        gate is not written to the content sinks but IS recorded in the
        manifest with the FIRST failing gate's code (GOPHER_DROP /
        REPETITION_DROP / MODEL_DROP — sequential, same discipline as
        `curation_funnel_df`), so resume never re-extracts or re-gates it
        and `manifest_summary` yields the per-gate funnel. All three flags
        are computed in the one tokenize-once projection pass over the
        freshly-extracted batch — zero extra scans or shuffles.

        SINGLE WRITER, enforced: the whole run holds the out_dir writer
        lease (plans/lease.py — atomic mkdir, stale-age takeover after
        `lease_stale_sec`, owner re-validated at the commit point). A
        second concurrent run on the same out_dir raises LeaseHeldError at
        start instead of silently committing duplicate urls; a writer
        whose stale lock was stolen aborts before its commit rename."""
        from .lease import WriterLease

        with WriterLease(self.out_dir, self.lease_stale_sec) as lease:
            return self._run(pages, run_id, with_chunks, fmt, dedupe,
                             url_blocklist, lease, curate,
                             url_blocklist_validate=url_blocklist_validate)

    # -- commit protocol -------------------------------------------------------
    def committed_batch_ids(self) -> list[str]:
        """The commit log is the manifest directory listing: one
        ``batch_id=<token>`` dir per committed batch (created by the atomic
        rename in `_commit`). Control-plane metadata — one entry per *run*,
        not per row, so a driver-side listing stays tiny at any data scale."""
        self._recover_manifest()
        if not os.path.isdir(self.manifest_path):
            return []
        return sorted(
            d.split("=", 1)[1] for d in os.listdir(self.manifest_path)
            if d.startswith("batch_id=")
        )

    def _commit(self, staging_dir: str, batch_id: str) -> None:
        """COMMIT POINT: atomically publish the staged manifest batch.
        Everything before this call is invisible to committed readers;
        everything after is durable. (Separate method = test seam for the
        mid-job-crash test, and the Iceberg-swap point in a real deploy.)"""
        os.makedirs(self.manifest_path, exist_ok=True)
        os.rename(staging_dir,
                  os.path.join(self.manifest_path, f"batch_id={batch_id}"))

    def _read_committed(self, path: str, fmt: str = "parquet") -> DataFrame:
        ids = self.committed_batch_ids()
        df = self.spark.read.format(fmt).load(path)
        # isin over the partition column → static partition pruning (no data
        # files of orphan batches are even opened); asserted in tests.
        return df.where(F.col("batch_id").isin(ids)).drop("batch_id")

    def read_docs(self, fmt: str = "parquet") -> DataFrame:
        """Committed-only view of the docs sink (crash-orphan batches
        pruned by partition filter)."""
        return self._read_committed(self.docs_path, fmt)

    def read_blocks(self, fmt: str = "parquet") -> DataFrame:
        return self._read_committed(self.blocks_path, fmt)

    def read_chunks(self, fmt: str = "parquet") -> DataFrame:
        return self._read_committed(self.chunks_path, fmt)

    def vacuum_uncommitted(self, staging_min_age_sec: float = 3600.0) -> int:
        """Reclaim orphan batch partitions left by a mid-job crash (present
        in a content sink, absent from the manifest commit log) plus
        abandoned staging dirs. Returns the number of directories removed.
        Safe to run concurrently with readers: committed readers never look
        at these paths. But an uncommitted dir is NOT provably dead just by
        being absent from the commit log — a live run sits between its
        content-sink append and its commit rename for the whole extraction
        job, and deleting its batch dirs (or its staging dir) in that window
        would let the commit succeed while referencing vanished content
        rows: SILENT loss (r4 ADVICE finding — the staging race at least
        failed loudly at the rename). So BOTH classes are only reclaimed
        after `staging_min_age_sec` of no modification (pass 0 only when no
        run can be in flight — e.g. under the same `writer_lease` the
        runs take)."""
        import time

        committed = set(self.committed_batch_ids())
        removed = 0
        now = time.time()

        def _old_enough(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= staging_min_age_sec
            except OSError:  # raced with a concurrent commit/removal
                return False

        for sink in (self.docs_path, self.blocks_path, self.chunks_path):
            if not os.path.isdir(sink):
                continue
            for d in os.listdir(sink):
                p = os.path.join(sink, d)
                if d.startswith("batch_id=") and \
                        d.split("=", 1)[1] not in committed and \
                        _old_enough(p):
                    shutil.rmtree(p)
                    removed += 1
        staging_root = os.path.join(self.out_dir, "_staging")
        if os.path.isdir(staging_root):
            for d in os.listdir(staging_root):
                p = os.path.join(staging_root, d)
                if _old_enough(p):
                    shutil.rmtree(p)
                    removed += 1
        return removed

    def _run(self, pages: DataFrame, run_id: str,
             with_chunks: bool, fmt: str, dedupe: bool = False,
             url_blocklist: DataFrame | None = None,
             lease=None, curate: bool = False,
             url_blocklist_validate: bool = True) -> dict:
        todo = self.pending(pages)
        batch_id = f"{run_id}-{uuid.uuid4().hex[:12]}"
        if dedupe:
            # a seen-hashes compaction that died between its two swap
            # renames left the store in the trash dir; restore BEFORE the
            # exists() checks below — otherwise this run would silently
            # pass every known duplicate and recreate a fresh store,
            # stranding the whole hash history (recover_store is then a
            # permanent no-op because the path exists again)
            from .maintenance import recover_store

            recover_store(self.seen_path)
        blocked_manifest = None
        n_blocked = 0
        if url_blocklist is not None:
            from ..operators.urlfilter import filter_urls

            # url_blocklist_validate=False skips the per-run load-time
            # blocklist check (one tiny eager job + repeated deep-entry
            # warning) — for resume loops re-running an already-validated
            # list
            flagged = filter_urls(todo, url_blocklist,
                                  validate=url_blocklist_validate)
            # checkpointed for the same reason as docs_m below: its plan
            # reads the manifest (resume anti-join) that the commit below
            # mutates, and it feeds both the manifest union and the count
            blocked_manifest = flagged.where(F.col("url_blocked")).select(
                F.lit(run_id).alias("run_id"),
                F.spark_partition_id().alias("partition_id"),
                F.col("url"),
                F.length(F.coalesce(F.col("html"), F.lit(b"")))
                .cast("long").alias("bytes_in"),
                F.lit(0).cast("long").alias("bytes_out"),
                F.lit("URL_BLOCKED").alias("failure_code"),
            ).localCheckpoint(eager=True)
            n_blocked = blocked_manifest.count()
            todo = flagged.where(~F.col("url_blocked")) \
                .drop("url_blocked", "block_reason")
        # fused extract(+chunk): one Arrow stage, no chunking shuffle
        docs = extract_docs(todo, self.partitions, chunks=with_chunks)

        # manifest rows ride the same job: spark_partition_id() is stamped
        # AFTER the salted repartition inside extract_docs, so each row
        # records the partition that actually did the work.
        docs_m = docs.withColumn("partition_id", F.spark_partition_id())
        if curate:
            # gates BEFORE the dedup marking — the curate_corpus funnel
            # order (dedup applies only to gate survivors, and a gated
            # doc's hash must not be registered or own a winner slot)
            docs_m = self._mark_curation(docs_m)
        else:
            docs_m = docs_m.withColumn("__gate", F.lit(None).cast("string"))
        if dedupe:
            docs_m = self._mark_duplicates(docs_m, run_id)
        else:
            docs_m = docs_m.withColumn("__dup", F.lit(False))
        # localCheckpoint, NOT cache: the plan reads the manifest (resume
        # anti-join) and the seen_hashes store (dedup gate) — appending to
        # either path below refreshes it and INVALIDATES a cache built on
        # it, silently recomputing docs_m against the post-write state
        # (todo becomes empty, dup flags flip). Checkpointing materializes
        # the batch immutably before any sink write.
        docs_m = docs_m.localCheckpoint(eager=True)
        n_docs = docs_m.count()
        fresh = docs_m.where(~F.col("__dup") & F.col("__gate").isNull()) \
            .drop("__dup", "__gate") \
            .withColumn("batch_id", F.lit(batch_id))

        # content sinks: UNCOMMITTED until _commit below (batch_id partition
        # + manifest-dir commit log; see module docstring)
        (fresh.drop("blocks", "chunks")
         .write.mode("append").partitionBy("batch_id")
         .format(fmt).save(self.docs_path))

        blocks = explode_blocks(fresh.drop("chunks", "batch_id")) \
            .withColumn("batch_id", F.lit(batch_id))
        (blocks.write.mode("append").partitionBy("batch_id")
         .format(fmt).save(self.blocks_path))

        if with_chunks:
            (explode_chunks(fresh.drop("batch_id"))
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").partitionBy("batch_id")
             .format(fmt).save(self.chunks_path))

        manifest = docs_m.select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.col("url"),
            F.col("bytes_in"),
            F.length(F.coalesce("extracted_text", F.lit(""))).cast("long").alias("bytes_out"),
            # precedence: extraction failure > curation gate > duplicate
            # (non-curate runs have __gate ≡ NULL — identical to the old
            # when(__dup, coalesce(fc, DUPLICATE)).otherwise(fc) form)
            F.coalesce(
                F.col("failure_code"), F.col("__gate"),
                F.when(F.col("__dup"), F.lit("DUPLICATE")),
            ).alias("failure_code"),
        )
        if blocked_manifest is not None:
            manifest = manifest.unionByName(blocked_manifest)
        staging = os.path.join(self.out_dir, "_staging", batch_id)
        manifest.write.mode("overwrite").parquet(staging)
        if lease is not None:
            # commit-point validation: if this run's lock went stale during
            # a long extraction and another writer stole it, abort HERE —
            # publishing would race the new owner's batch. touch() first so
            # a healthy run never looks stale to the next acquirer.
            lease.assert_held()
            lease.touch()
        self._commit(staging, batch_id)
        if dedupe:
            from ..functions import normalized_text_hash_expr
            from ..operators.dedup import register_hashes

            register_hashes(
                self.seen_path,
                docs_m.where(
                    ~F.col("__dup") & F.col("__gate").isNull()
                    & F.col("failure_code").isNull()
                    & (F.length(F.coalesce("extracted_text", F.lit(""))) > 0)
                ).select(
                    normalized_text_hash_expr(F.col("extracted_text"))
                    .alias("hash"),
                    F.lit("normalized_text").alias("kind"),
                    F.lit(run_id).alias("source"),
                ),
            )
        n_dups = docs_m.where(F.col("__dup")).count() if dedupe else 0
        gate_drops = {}
        if curate:
            # ≤3 rows (one per gate code) — control-plane scalars; the
            # full per-(run, partition) funnel comes from manifest_summary
            gate_drops = {
                r["__gate"]: r["n"]
                for r in docs_m.where(F.col("__gate").isNotNull())
                .groupBy("__gate").agg(F.count("*").alias("n")).collect()
            }
        return {"run_id": run_id, "docs_processed": n_docs,
                "duplicates_skipped": n_dups, "urls_blocked": n_blocked,
                "curation_drops": gate_drops}

    @property
    def seen_path(self) -> str:
        return os.path.join(self.out_dir, "seen_hashes")

    def _mark_curation(self, docs_m: DataFrame) -> DataFrame:
        """Add `__gate`: the first failing text-quality gate's manifest
        code (GOPHER_DROP / REPETITION_DROP / MODEL_DROP), NULL when all
        three pass — the reference's doc_status failure tracking
        (persistent.py:369-406) extended to the curation stage. Docs with
        an extraction failure_code are not gate-coded (a parse failure is
        not a quality judgment; precedence is enforced again in the
        manifest coalesce). Flags come from the same tokenize-once
        projection pass `flag_corpus` uses (`with_text_gate_flags`) —
        zero extra scans, zero shuffles, and bit-identity with the
        standalone gates is already pinned by the curate tests."""
        from .curate import text_gate_code_expr, with_text_gate_flags

        orig = list(docs_m.columns)
        flagged = with_text_gate_flags(docs_m, "extracted_text")
        gate = F.when(F.col("failure_code").isNull(), text_gate_code_expr())
        return flagged.withColumn("__gate", gate).select(*orig, "__gate")

    def _mark_duplicates(self, docs_m: DataFrame, run_id: str) -> DataFrame:
        """Add `__dup`: true when the doc's normalized-text hash is in the
        persistent seen store OR a smaller url in this batch owns the hash.

        Failed or empty extractions are NEVER gated: all of EMPTY_HTML /
        PARSE_ERROR / oversize docs share extracted_text='' and would
        otherwise collapse into one 'duplicate' class (and poison the seen
        store with hash('') forever); a parse failure is not a content
        duplicate. Their hash is null → excluded from winners, the seen
        join, and registration. Curation-gated docs (`__gate` non-null)
        are excluded for the published-winner invariant: a gated doc is
        never written, so letting it own a hash's winner slot would mark
        its duplicates DUPLICATE while NO copy reaches the sinks — silent
        loss of the content."""
        from ..functions import normalized_text_hash_expr

        gate_ok = (F.col("failure_code").isNull()
                   & F.col("__gate").isNull()
                   & (F.length(F.coalesce("extracted_text", F.lit(""))) > 0))
        h = F.when(gate_ok,
                   normalized_text_hash_expr(F.col("extracted_text")))
        hashed = docs_m.withColumn("__h", h)
        winners = hashed.where(F.col("__h").isNotNull()) \
            .groupBy("__h").agg(F.min("url").alias("__wurl"))
        hashed = hashed.join(winners, "__h", "left")
        if os.path.exists(self.seen_path):
            seen = (
                self.spark.read.parquet(self.seen_path)
                .where(F.col("kind") == "normalized_text")
                .select(F.col("hash").alias("__h"),
                        F.lit(True).alias("__seen")).distinct()
            )
            hashed = hashed.join(seen, "__h", "left")
        else:
            hashed = hashed.withColumn("__seen", F.lit(None).cast("boolean"))
        return hashed.withColumn(
            "__dup",
            F.col("__h").isNotNull()
            & (F.coalesce("__seen", F.lit(False))
               | (F.col("url") != F.col("__wurl"))),
        ).drop("__h", "__wurl", "__seen")

    # -- lineage metrics --------------------------------------------------------
    def manifest_summary(self) -> DataFrame:
        """Per-(run, partition) lineage rollup — the reference's scheduler
        stats (scheduler.py:278-292) as a groupBy."""
        m = self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_path)
        totals = m.groupBy("run_id", "partition_id").agg(
            F.count("*").alias("urls_processed"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
        )
        codes = (
            m.groupBy("run_id", "partition_id",
                      F.coalesce("failure_code", F.lit("OK")).alias("code"))
            .count()
            .groupBy("run_id", "partition_id")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("code", "count")))
                ).alias("failure_codes")
            )
        )
        return totals.join(codes, ["run_id", "partition_id"])
