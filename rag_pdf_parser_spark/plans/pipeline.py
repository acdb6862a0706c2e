"""The end-to-end extraction pipeline — resumable, skew-aware, manifest-logged.

Spark-first restatement of the reference's CLI lifecycle (SURVEY §3.1):

    pages scan → resume anti-join (vs manifest)           [J3, persistent.py doc_status]
              → URL gate (url_blocklist=)                 [C4 front filter]
              → salted repartition by xxhash64(url)       [north_rule skew defusal]
              → mapInArrow extraction (kernel)            [M1/M2 fused]
              → text-quality gates (curate=)              [plans/curate.py]
              → dedup gate: in-batch min-url window, left
                join vs committed text_hash (dedupe=)     [F7/J2, main.py:43-46]
              → docs rows, blocks (+chunks) nested        [S3/W1/W6]
              → one parquet docs sink + manifest append   [K1-K4, K7]

The out_dir holds one parquet content table, `docs/`: one row per document
with its `blocks` (and `chunks`, when the run chunks) nested — the
reference's one IR document per input. `read_blocks()`/`read_chunks()`
explode the committed docs, and `read_docs()` drops the arrays, so its scan
never reads them. The reference's JSONL outputs (K2/K3, writer.py:110-165)
are a write of those views: `read_blocks().write.json(dest)` and
`read_chunks().write.json(dest)`, where Spark's JSON writer omits null
fields, so no chunk line carries the always-null `embedding` (K3's
exclusion).

Each gate writes one nullable `__code` column (URL_BLOCKED rows leave
before extraction and go straight into the manifest batch): the docs sink
takes the rows whose `__code` is NULL, and the manifest records
`coalesce(failure_code, __code)`.

The manifest is the resume/lineage mechanism the north rule requires: one row
per (run, partition, url) with bytes in/out and failure code. Resume = left
anti-join of pages against manifest urls — exactly the reference's
SQLite doc_status skip (persistent.py:369-406) as a relational op. Per-url
(not per-partition-summary) rows keep resume exact under repartitioning;
a summary view aggregates them for metrics.

The manifest is also the dedup log — the reference's JSON hash dict
(deduplicator.py:45-59) as one column: `text_hash` holds the
normalized-text hash of every doc a `dedupe=True` run publishes as its
hash's winner, NULL on every other row (and on every row of a run without
`dedupe`). The dedup gate's seen set is the committed manifest's non-NULL
`text_hash`, so a hash becomes durable in the same rename that commits its
doc — exactly once, with no second store to register into or recover.

Commit protocol (crash-exactness across MID-JOB death, r3 verdict #2):
the docs sink appends under a per-run ``batch_id=<token>`` partition, and
the batch becomes visible only when its manifest directory is atomically
renamed into place — the manifest IS the commit log, and a batch is
committed iff ``manifest/batch_id=<token>/`` exists:

    1. docs append partitioned by batch_id                 (uncommitted)
    2. manifest rows staged to _staging/<token>            (uncommitted)
    3. os.rename(_staging/<token>, manifest/batch_id=<token>)  ← COMMIT

A crash anywhere before (3) leaves an orphan batch partition that committed
readers (`read_docs`/`read_blocks`/`read_chunks`) prune out by batch_id —
the rerun re-extracts those urls (the manifest never saw them) under a new
token, so committed output equals an uninterrupted run EXACTLY. Orphans are
reclaimed by `vacuum_uncommitted()`. The reference's doc_status marking
(persistent.py:369-406) has the same window with no committed-reader story.
POSIX rename is atomic on local/HDFS filesystems; on object stores the same
role is played by an Iceberg/metastore metadata swap (SURVEY §1.1 maps the
manifest to a Delta/Iceberg table — jars absent in this sandbox).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import normalized_text_hash_expr
from ..operators.extract import (
    explode_blocks,
    explode_chunks,
    extract_docs,
)
from ..operators.urlfilter import filter_urls
from ..schema import DOCS_SINK_SCHEMA, MANIFEST_SCHEMA
from .curate import TEXT_GATE_CODES, text_gate_code_expr, with_text_gate_flags
from .lease import WriterLease
from .maintenance import recover_store


def _run_counts(run_id: str, counts: dict) -> dict:
    """`ExtractionPipeline.run`'s result from its staged batch's row
    count per failure code."""
    n_blocked = counts.pop("URL_BLOCKED", 0)
    return {"run_id": run_id, "docs_processed": sum(counts.values()),
            "duplicates_skipped": counts.get("DUPLICATE", 0),
            "urls_blocked": n_blocked,
            "curation_drops": {c: counts[c] for c in TEXT_GATE_CODES
                               if c in counts}}


class ExtractionPipeline:
    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.manifest_path = os.path.join(out_dir, "manifest")
        self.docs_path = os.path.join(out_dir, "docs")

    def _recover_manifest(self) -> None:
        # every entry point passes here before it writes: an older layout
        # (blocks and chunks sinks, a seen_hashes/ store) is not migrated
        if any(os.path.exists(os.path.join(self.out_dir, d))
               for d in ("blocks", "chunks", "seen_hashes")):
            raise ValueError(
                f"{self.out_dir} was written by an older layout (a blocks/, "
                "chunks/ or seen_hashes/ dir) and is not migrated")
        # a manifest compaction (maintenance.compact_output) that died
        # between its two swap renames left the commit log in the trash
        # dir — restore before ANY read of committed state, or readers see
        # an empty table and a fresh run re-extracts everything
        recover_store(self.manifest_path)

    # -- resume gate ----------------------------------------------------------
    def read_manifest(self) -> DataFrame | None:
        """Every committed manifest row (MANIFEST_SCHEMA, `batch_id`
        included), None before the first commit: the resume gate reads
        its `url`, the dedup gate its `text_hash`. An unreadable manifest
        raises — treating it as "no resume state" would re-extract and
        re-commit every url."""
        self._recover_manifest()
        if not os.path.exists(self.manifest_path):
            return None
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            self.manifest_path)

    def pending(self, pages: DataFrame) -> DataFrame:
        """`pages` less every url the manifest holds. Not distinct: the
        resume anti-join needs no distinct build side, and each distinct
        would cost a shuffle job per read."""
        done = self.read_manifest()
        if done is None:
            return pages
        return pages.join(done.select("url"), "url", "left_anti")

    # -- run --------------------------------------------------------------------
    def run(self, pages: DataFrame, run_id: str = "run0",
            with_chunks: bool = True, dedupe: bool = False,
            url_blocklist: DataFrame | None = None,
            curate: bool = False) -> dict:
        """`dedupe=True` wires in the reference's dedup gate (F7/J2,
        main.py:43-46): documents whose normalized-text hash a committed
        manifest row already holds in `text_hash` (previous runs) or
        that a lexicographically-smaller url in THIS run also produced
        are NOT written to the docs sink — but they ARE recorded in
        the manifest with failure_code='DUPLICATE', so resume never
        re-extracts them (exactly the reference's skip-if-seen +
        mark-status flow). The published winners' manifest rows carry
        their hash, committed by the same rename as the batch.
        `with_chunks=False` docs rows read back NULL `chunks`.

        `url_blocklist` (a DataFrame with a `host` column) switches on the
        C4-style URL gate (operators.urlfilter) BEFORE extraction: blocked
        pages never reach the Arrow stage — they are only recorded in the
        manifest as failure_code='URL_BLOCKED', so resume skips them
        forever and the expensive kernel pays nothing for them.

        `curate=True` wires the THREE text-quality gates (Gopher word
        stats, the Gopher repetition family, the hashed quality model —
        plans/curate.py) into the run, AFTER extraction and BEFORE the
        dedup gate (the `curate_corpus` funnel order): a doc failing a
        gate is not written to the docs sink but IS recorded in the
        manifest with the FIRST failing gate's code (GOPHER_DROP /
        REPETITION_DROP / MODEL_DROP — sequential, same discipline as
        `curation_funnel_df`), so resume never re-extracts or re-gates it
        and `manifest_summary` yields the per-gate funnel. All three flags
        are computed in the one tokenize-once projection pass over the
        freshly-extracted batch — zero extra scans or shuffles.

        `pages` must hold each url once: a batch that repeats a url
        raises ValueError before the commit, since `pending` anti-joins
        earlier batches only and both copies would commit. The check is a
        window over url inside the staging write's own job; the raising
        run leaves only the orphan docs batch a crash leaves.

        SINGLE WRITER, enforced: the whole run holds the out_dir writer
        lease (plans/lease.py — atomic mkdir, stale-age takeover after
        `STALE_SEC`, owner re-validated at the commit point). A
        second concurrent run on the same out_dir raises LeaseHeldError at
        start instead of silently committing duplicate urls; a writer
        whose stale lock was stolen aborts before its commit rename.

        The returned counts come from the manifest batch this run stages:
        `docs_processed` is every row but URL_BLOCKED; `urls_blocked`,
        `duplicates_skipped` and `curation_drops` count their codes. A run
        with nothing pending commits no batch, and its counts are all
        zero: on a resume (a manifest exists) a bounded
        probe of `pending` (two jobs: the manifest broadcast and a limit-1
        scan) finds it empty and the run stops there."""
        with WriterLease(self.out_dir) as lease:
            todo = self.pending(pages)
            if os.path.isdir(self.manifest_path) and todo.isEmpty():
                return _run_counts(run_id, {})
            batch_id = f"{run_id}-{uuid.uuid4().hex[:12]}"
            blocked = None
            if url_blocklist is not None:
                flagged = filter_urls(todo, url_blocklist)
                # read once, by the staging write below — which runs before
                # the commit rename mutates the manifest its plan reads
                blocked = flagged.where(F.col("url_blocked")).select(
                    F.lit(run_id).alias("run_id"),
                    F.spark_partition_id().alias("partition_id"),
                    F.col("url"),
                    F.length(F.coalesce(F.col("html"), F.lit(b"")))
                    .cast("long").alias("bytes_in"),
                    F.lit(0).cast("long").alias("bytes_out"),
                    F.lit("URL_BLOCKED").alias("failure_code"),
                    F.lit(None).cast("string").alias("text_hash"),
                )
                todo = flagged.where(~F.col("url_blocked")) \
                    .drop("url_blocked", "block_reason")
            # fused extract(+chunk): one Arrow stage, no chunking shuffle
            docs = extract_docs(todo, chunks=with_chunks)

            # manifest rows ride the same job: spark_partition_id() is
            # stamped AFTER the salted repartition inside extract_docs, so
            # each row records the partition that actually did the work.
            docs_m = docs.withColumns({
                "partition_id": F.spark_partition_id(),
                "__code": F.lit(None).cast("string"),
                "__h": F.lit(None).cast("string"),
            })
            if curate:
                # gates BEFORE the dedup marking — the curate_corpus funnel
                # order (dedup applies only to gate survivors, and a gated
                # doc's hash must not be published or own a winner slot)
                docs_m = self._mark_curation(docs_m)
            if dedupe:
                docs_m = self._mark_duplicates(docs_m)
            # localCheckpoint, NOT cache: the plan reads the manifest
            # (resume anti-join and dedup gate) — the commit rename below
            # refreshes it and INVALIDATES a cache built on it, silently
            # recomputing docs_m against the post-write state (todo
            # becomes empty, dup flags flip).
            # Checkpointing materializes the batch immutably before any
            # sink write.
            docs_m = docs_m.localCheckpoint(eager=True)

            # the one content sink: UNCOMMITTED until _commit below
            # (batch_id partition + manifest-dir commit log; module doc)
            (docs_m.where(F.col("__code").isNull())
             .drop("__code", "__h")
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").partitionBy("batch_id")
             .parquet(self.docs_path))

            manifest = docs_m.select(
                F.lit(run_id).alias("run_id"),
                F.col("partition_id"),
                F.col("url"),
                F.col("bytes_in"),
                F.length(F.coalesce("extracted_text", F.lit("")))
                .cast("long").alias("bytes_out"),
                # an extraction failure outranks a gate code (the gates
                # only code docs whose failure_code is NULL anyway)
                F.coalesce("failure_code", "__code").alias("failure_code"),
                F.col("__h").alias("text_hash"),
            )
            if blocked is not None:
                manifest = manifest.unionByName(blocked)
            staging = os.path.join(self.out_dir, "_staging", batch_id)
            # keyed by url with no width, so AQE sizes the write to the
            # rows instead of one part file per extraction partition plus
            # one per blocked-row partition; coalesce(1) would instead
            # pull the URL gate's scan into one task. Every row of a url
            # lands in one task, so a window over url counts its rows
            # exactly inside this write's job, and the observed max tells
            # whether the batch repeats a url
            repeats = Observation("repeated_urls")
            (manifest.repartition("url")
             .withColumn("__n", F.count("*").over(Window.partitionBy("url")))
             .observe(repeats, F.max("__n").alias("n"),
                      F.max_by("url", "__n").alias("url"))
             .drop("__n")
             .write.mode("overwrite").parquet(staging))
            repeated = repeats.get
            if (repeated["n"] or 0) > 1:
                # `pending` anti-joins earlier batches only, and the dedup
                # gate's in-batch winner is keyed by url: both copies
                # would commit, and every resume would keep them
                shutil.rmtree(staging)
                raise ValueError(
                    f"the batch holds url {repeated['url']!r} "
                    f"{repeated['n']} times; a run commits each url once")
            counts = {
                r["failure_code"]: r["count"] for r in
                self.spark.read.schema(MANIFEST_SCHEMA).parquet(staging)
                .groupBy("failure_code").count().collect()
            }
            if not counts:
                # nothing was pending: an empty batch would only grow the
                # commit log, so commit nothing
                shutil.rmtree(staging)
            else:
                # commit-point validation: if this run's lock went stale
                # during a long extraction and another writer stole it,
                # abort HERE — publishing would race the new owner's
                # batch. touch() first so a healthy run never looks stale
                # to the next acquirer.
                lease.assert_held()
                lease.touch()
                self._commit(staging, batch_id)
        return _run_counts(run_id, counts)

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

    def _read_committed(self) -> DataFrame:
        ids = self.committed_batch_ids()
        # one explicit schema: a with_chunks=False batch reads NULL chunks
        df = self.spark.read.schema(DOCS_SINK_SCHEMA).parquet(self.docs_path)
        # isin over the partition column → static partition pruning (no data
        # files of orphan batches are even opened); asserted in tests.
        return df.where(F.col("batch_id").isin(ids)).drop("batch_id")

    def read_docs(self) -> DataFrame:
        """Committed-only view of the docs sink (crash-orphan batches
        pruned by partition filter), nested arrays not scanned."""
        return self._read_committed().drop("blocks", "chunks")

    def read_blocks(self) -> DataFrame:
        return explode_blocks(self._read_committed())

    def read_chunks(self) -> DataFrame:
        return explode_chunks(self._read_committed())

    def vacuum_uncommitted(self, staging_min_age_sec: float = 3600.0) -> int:
        """Reclaim orphan batch partitions left by a mid-job crash (present
        in the docs sink, absent from the manifest commit log) plus
        abandoned staging dirs. Returns the number of directories removed.
        Safe to run concurrently with readers: committed readers never look
        at these paths. But an uncommitted dir is NOT provably dead just by
        being absent from the commit log — a live run sits between its
        docs append and its commit rename for the whole extraction
        job, and deleting its batch dir (or its staging dir) in that window
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

        if os.path.isdir(self.docs_path):
            for d in os.listdir(self.docs_path):
                p = os.path.join(self.docs_path, d)
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

    def _mark_curation(self, docs_m: DataFrame) -> DataFrame:
        """Set `__code` to the first failing text-quality gate's manifest
        code (GOPHER_DROP / REPETITION_DROP / MODEL_DROP) where it is NULL
        — the reference's doc_status failure tracking
        (persistent.py:369-406) extended to the curation stage. Docs with
        an extraction failure_code are not gate-coded (a parse failure is
        not a quality judgment). Flags come from the same tokenize-once
        projection pass `flag_corpus` uses (`with_text_gate_flags`) —
        zero extra scans, zero shuffles, and bit-identity with the
        standalone gates is already pinned by the curate tests."""
        gate = F.when(F.col("failure_code").isNull(), text_gate_code_expr())
        return with_text_gate_flags(docs_m, "extracted_text") \
            .withColumn("__code", F.coalesce("__code", gate)) \
            .select(*docs_m.columns)

    def _mark_duplicates(self, docs_m: DataFrame) -> DataFrame:
        """Set `__code` to DUPLICATE when the doc's normalized-text hash is
        in a committed manifest row's `text_hash` OR a smaller url in this
        batch owns the hash, and set `__h`: the hash of every doc this run
        publishes as its hash's winner (the gate-eligible docs that are not
        duplicates), NULL otherwise — the manifest's `text_hash`.

        Only docs with no code and no extraction failure and a non-empty
        text are gate-eligible. Failed or empty extractions all share
        extracted_text='' and would otherwise collapse into one
        'duplicate' class (and poison the dedup log with hash('')
        forever); a parse failure is not a content duplicate.
        Curation-gated docs are excluded for the published-winner
        invariant: a gated doc is never written, so letting it own a
        hash's winner slot would mark its duplicates DUPLICATE while NO
        copy reaches the docs sink — silent loss of the content.

        The in-batch winner is a window min over the hash (a NULL hash is
        keyed by its own url — no sha256 hex digest contains ':' — so
        ineligible rows never pile into one window partition): one pass
        over the batch, where a groupBy joined back would run the
        extraction stage below it twice."""
        eligible = (F.col("failure_code").isNull()
                    & F.col("__code").isNull()
                    & (F.length(F.coalesce("extracted_text", F.lit(""))) > 0))
        hashed = docs_m.withColumn("__h", F.when(
            eligible, normalized_text_hash_expr(F.col("extracted_text"))))
        key = F.coalesce("__h", F.concat(F.lit("null:"), F.col("url")))
        hashed = hashed.withColumn(
            "__wurl", F.min("url").over(Window.partitionBy(key)))
        committed = self.read_manifest()
        if committed is not None:
            seen = committed.where(F.col("text_hash").isNotNull()).select(
                F.col("text_hash").alias("__h"),
                F.lit(True).alias("__seen")).distinct()
            hashed = hashed.join(seen, "__h", "left")
        else:
            hashed = hashed.withColumn("__seen", F.lit(None).cast("boolean"))
        dup = F.col("__h").isNotNull() & (
            F.coalesce("__seen", F.lit(False))
            | (F.col("url") != F.col("__wurl")))
        return hashed.withColumns({
            "__code": F.when(dup, F.lit("DUPLICATE"))
            .otherwise(F.col("__code")),
            "__h": F.when(~dup, F.col("__h")),
        }).drop("__wurl", "__seen")

    # -- lineage metrics --------------------------------------------------------
    def manifest_summary(self) -> DataFrame:
        """Per-(run, partition) lineage rollup — the reference's scheduler
        stats (scheduler.py:278-292) as a groupBy. Reads the manifest
        through `read_manifest` (so after its crash recovery); empty
        before the first commit."""
        m = self.read_manifest()
        if m is None:
            m = self.spark.createDataFrame([], MANIFEST_SCHEMA)
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
