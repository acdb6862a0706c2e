"""The end-to-end extraction pipeline — resumable, skew-aware, manifest-logged.

Spark-first restatement of the reference's CLI lifecycle (SURVEY §3.1):

    pages scan → resume anti-join (vs manifest)           [J3, persistent.py doc_status]
              → salted repartition by xxhash64(url), each
                url's first capture kept in the same stage [north_rule skew defusal]
              → URL gate (url_blocklist=): NULLs a blocked
                row's html, keeps its length              [C4 front filter]
              → mapInArrow extraction (kernel)            [M1/M2 fused]
              → text-quality gates (curate=)              [plans/curate.py]
              → dedup gate: in-batch min-url window, left
                join vs committed text_hash (dedupe=)     [F7/J2, main.py:43-46]
              → one write: a manifest row per url, the
                published doc's content in the same row   [K1-K4, K7]

The out_dir holds one parquet table, `manifest/` — the reference's
doc_status row plus its IR document per input (persistent.py:369-406). Each
row is one url's manifest row; the doc the run published for it rides in
the same row (`doc_id` … `extracted_text`, with `blocks` and, when the run
chunks, `chunks` nested), NULL on every row the run did not publish.
`read_docs()` is the rows with content, its scan reading neither array;
`read_blocks()`/`read_chunks()` explode them. The reference's JSONL outputs
(K2/K3, writer.py:110-165) are a write of those views:
`read_blocks().write.json(dest)` and `read_chunks().write.json(dest)`,
where Spark's JSON writer omits null fields, so no chunk line carries the
always-null `embedding` (K3's exclusion).

Each gate writes one nullable `__code` column (a blocked row comes out of
extraction URL_BLOCKED, which seeds it): a row's content is published iff
its `__code` is NULL, and its manifest `failure_code` is
`coalesce(failure_code, __code)`, all in one select.

The manifest is the resume/lineage mechanism the north rule requires: one row
per (run, partition, url) with bytes in/out and failure code. Resume = left
anti-join of pages against manifest urls — exactly the reference's
SQLite doc_status skip (persistent.py:369-406) as a relational op. Per-url
(not per-partition-summary) rows keep resume exact under repartitioning;
a summary view aggregates them for metrics. Each reader scans only its
columns of the one table: resume `url`, the dedup gate `text_hash`, the
views the content.

The manifest is also the dedup log — the reference's JSON hash dict
(deduplicator.py:45-59) as one column: `text_hash` holds the
normalized-text hash of every doc a `dedupe=True` run publishes as its
hash's winner, NULL on every other row (and on every row of a run without
`dedupe`). The dedup gate's seen set is the committed manifest's non-NULL
`text_hash`, so a hash becomes durable in the same rename that commits its
doc — exactly once, with no second store to register into or recover.

Commit protocol (crash-exactness across MID-JOB death, r3 verdict #2): a
batch becomes visible only when its directory is atomically renamed into
place — the manifest IS the commit log, and a batch is committed iff
``manifest/batch_id=<token>/`` exists:

    1. the batch written to _staging/<token>               (uncommitted)
    2. os.rename(_staging/<token>, manifest/batch_id=<token>)  ← COMMIT

A crash anywhere before (2) leaves only the staging dir, which committed
readers never look at — the rerun re-extracts those urls (the manifest
never saw them) under a new token, so committed output equals an
uninterrupted run EXACTLY. The lease holder is the only writer, so the
next run (an empty resume too) deletes every staging dir as dead. The
reference's doc_status marking (persistent.py:369-406) has the same window
with no committed-reader story.
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
from ..operators.arrowmap import salted
from ..operators.extract import (
    BLOCKED_BYTES,
    explode_blocks,
    explode_chunks,
    extract_docs,
)
from ..operators.urlfilter import filter_urls
from ..schema import DOCS_FULL_SCHEMA, MANIFEST_SCHEMA, OUT_TABLE_SCHEMA
from .curate import TEXT_GATE_CODES, text_gate_code_expr, with_text_gate_flags
from .lease import WriterLease
from .maintenance import recover_store


# the one table's content columns: NULL on every row a run did not publish
CONTENT = [c for c in OUT_TABLE_SCHEMA.names if c not in MANIFEST_SCHEMA.names]


def _run_counts(run_id: str, counts: dict) -> dict:
    """`ExtractionPipeline.run`'s result from its written batch's row
    count, in total and per failure code it reports."""
    n_blocked = counts.get("URL_BLOCKED", 0)
    return {"run_id": run_id,
            "docs_processed": counts.get("rows", 0) - n_blocked,
            "duplicates_skipped": counts.get("DUPLICATE", 0),
            "urls_blocked": n_blocked,
            "curation_drops": {c: counts[c] for c in TEXT_GATE_CODES
                               if counts.get(c)}}


class ExtractionPipeline:
    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.manifest_path = os.path.join(out_dir, "manifest")

    def _recover_manifest(self) -> None:
        # every entry point passes here before it writes: an older layout
        # (content sinks, a seen_hashes/ store) is not migrated
        if any(os.path.exists(os.path.join(self.out_dir, d))
               for d in ("docs", "blocks", "chunks", "seen_hashes")):
            raise ValueError(
                f"{self.out_dir} was written by an older layout (a docs/, "
                "blocks/, chunks/ or seen_hashes/ dir) and is not migrated")
        # a manifest compaction (maintenance.compact_output) that died
        # between its two swap renames left the commit log in the trash
        # dir — restore before ANY read of committed state, or readers see
        # an empty table and a fresh run re-extracts everything
        recover_store(self.manifest_path)

    # -- resume gate ----------------------------------------------------------
    def _read(self, schema) -> DataFrame | None:
        """The committed table read with `schema`, None before the first
        commit. An unreadable table raises — treating it as "no resume
        state" would re-extract and re-commit every url."""
        self._recover_manifest()
        if not os.path.exists(self.manifest_path):
            return None
        return self.spark.read.schema(schema).parquet(self.manifest_path)

    def read_manifest(self) -> DataFrame | None:
        """Every committed manifest row (MANIFEST_SCHEMA, `batch_id`
        included), None before the first commit: the resume gate reads
        its `url`, the dedup gate its `text_hash`."""
        return self._read(MANIFEST_SCHEMA)

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
        are NOT published — but they ARE recorded in the manifest with
        failure_code='DUPLICATE', so resume never re-extracts them
        (exactly the reference's skip-if-seen + mark-status flow). The
        published winners' manifest rows carry their hash, committed by
        the same rename as the batch. A `with_chunks=False` batch has
        NULL `chunks`.

        `url_blocklist` (a DataFrame with a `host` column) switches on the
        C4-style URL gate (operators.urlfilter) BEFORE extraction: blocked
        pages cross the Arrow stage without their bytes, so the kernel
        pays nothing for them, and are recorded in the manifest as
        failure_code='URL_BLOCKED' with their raw `bytes_in`, so resume
        skips them forever.

        `curate=True` wires the THREE text-quality gates (Gopher word
        stats, the Gopher repetition family, the hashed quality model —
        plans/curate.py) into the run, AFTER extraction and BEFORE the
        dedup gate (the `curate_corpus` funnel order): a doc failing a
        gate is not published but IS recorded in the
        manifest with the FIRST failing gate's code (GOPHER_DROP /
        REPETITION_DROP / MODEL_DROP — sequential, same discipline as
        `curation_funnel_df`), so resume never re-extracts or re-gates it
        and `manifest_summary` yields the per-gate funnel. All three flags
        are computed in the one tokenize-once projection pass over the
        freshly-extracted batch — zero extra scans or shuffles.

        `pages` must carry `warc_ts`: a batch that repeats a url (a
        re-crawl) commits it once, as its first capture — the earliest
        `warc_ts`, NULLs last, then the smallest `html`, so the pick is
        deterministic at any width. `pending` anti-joins earlier batches
        only, so without the pick both copies would commit. It is a
        window inside the salt's own stage: no shuffle of its own.

        SINGLE WRITER, enforced: the whole run holds the out_dir writer
        lease (plans/lease.py — atomic mkdir, stale-age takeover after
        `STALE_SEC`, owner re-validated at the commit point). A
        second concurrent run on the same out_dir raises LeaseHeldError at
        start instead of silently committing duplicate urls; a writer
        whose stale lock was stolen aborts before its commit rename.
        Past the older-layout refusal, the run deletes everything under
        `_staging/`: the lease proves each dir a dead run's batch, and a
        stray file there is the lease holder's to remove. `run_id`
        must be one path component (it names the batch's dir).

        The returned counts are observed on the one write of the batch:
        `docs_processed` is every row but URL_BLOCKED; `urls_blocked`,
        `duplicates_skipped` and `curation_drops` count their codes. A run
        with nothing pending commits no batch, and its counts are all
        zero: on a resume (a manifest exists) a bounded
        probe of `pending` (two jobs: the manifest broadcast and a limit-1
        scan) finds it empty and the run stops there."""
        if not run_id or "/" in run_id or os.sep in run_id:
            raise ValueError(
                f"run_id {run_id!r} must be one non-empty path component")
        with WriterLease(self.out_dir) as lease:
            todo = self.pending(pages)  # refuses an older layout first
            # every staging entry is a dead run's (or a stray file: the
            # lease holder owns `_staging/`), but a writer whose stale
            # lease was stolen may still rename its own away: skip those
            staging_root = os.path.join(self.out_dir, "_staging")
            for d in (os.listdir(staging_root)
                      if os.path.isdir(staging_root) else ()):
                path = os.path.join(staging_root, d)
                try:
                    if os.path.isdir(path) and not os.path.islink(path):
                        shutil.rmtree(path)
                    else:
                        os.remove(path)
                except FileNotFoundError:
                    pass
            if os.path.isdir(self.manifest_path) and todo.isEmpty():
                return _run_counts(run_id, {})
            batch_id = f"{run_id}-{uuid.uuid4().hex[:12]}"
            # the salt, and in its own stage each url's first capture: the
            # window's partitioning contains the salt's hash (no exchange)
            first = Window.partitionBy(F.xxhash64("url"), "url").orderBy(
                F.col("warc_ts").asc_nulls_last(), "html")
            todo = (salted(todo.select("url", "warc_ts", "html"), "url")
                    .withColumn("__n", F.row_number().over(first))
                    .where(F.col("__n") == 1).drop("__n", "warc_ts"))
            url_code = F.lit(None).cast("string")
            if url_blocklist is not None:
                # a blocked row crosses the Arrow stage without its bytes
                hit = F.col("url_blocked")
                todo = filter_urls(todo, url_blocklist).select(
                    "url", F.when(~hit, F.col("html")).alias("html"),
                    F.when(hit, F.length(F.coalesce("html", F.lit(b""))))
                    .cast("long").alias(BLOCKED_BYTES))
                url_code = F.when(F.col("failure_code") == "URL_BLOCKED",
                                  F.col("failure_code"))
            # fused extract(+chunk): one Arrow stage, no chunking shuffle
            docs = extract_docs(todo, salt=False, chunks=with_chunks)
            if not with_chunks:
                docs = docs.withColumn("chunks", F.lit(None).cast(
                    OUT_TABLE_SCHEMA["chunks"].dataType))

            # spark_partition_id() is stamped in the extraction stage, so
            # each row records the partition that actually did the work
            docs_m = docs.withColumns({
                "partition_id": F.spark_partition_id(),
                "__code": url_code,
                "__h": F.lit(None).cast("string"),
            })
            if curate:
                # gates BEFORE the dedup marking — the curate_corpus funnel
                # order (dedup applies only to gate survivors, and a gated
                # doc's hash must not be published or own a winner slot)
                docs_m = self._mark_curation(docs_m)
            if dedupe:
                docs_m = self._mark_duplicates(docs_m)
            published = F.col("__code").isNull()
            batch = docs_m.select(
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
                *[F.when(published, F.col(c)).alias(c) for c in CONTENT],
            )
            # the one write: UNCOMMITTED until _commit below (module doc).
            # The run's counts ride it; its plan reads the manifest, which
            # only the commit rename after it changes
            staging = os.path.join(staging_root, batch_id)
            code = F.col("failure_code")
            seen = Observation("run_counts")
            (batch.observe(seen, F.count(F.lit(1)).alias("rows"), *[
                F.count(F.when(code == c, 1)).alias(c)
                for c in ("URL_BLOCKED", "DUPLICATE", *TEXT_GATE_CODES)])
             .write.mode("overwrite").parquet(staging))
            counts = seen.get
            if not counts["rows"]:
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
        # the published rows, with their content; empty before the first
        # commit. Every batch dir under manifest/ is committed: _commit
        # renames it there whole
        df = self._read(OUT_TABLE_SCHEMA)
        if df is None:
            df = self.spark.createDataFrame([], OUT_TABLE_SCHEMA)
        return df.where(F.col("doc_id").isNotNull()) \
            .select(*DOCS_FULL_SCHEMA.names, "partition_id")

    def read_docs(self) -> DataFrame:
        """The committed docs, one row per published url; the nested
        arrays are not scanned."""
        return self._read_committed().drop("blocks", "chunks")

    def read_blocks(self) -> DataFrame:
        return explode_blocks(self._read_committed())

    def read_chunks(self) -> DataFrame:
        return explode_chunks(self._read_committed())

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
        invariant: a gated doc is never published, so letting it own a
        hash's winner slot would mark its duplicates DUPLICATE while NO
        copy is published — silent loss of the content.

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
