"""Resume-from-manifest (north_rule lineage requirement), streaming parity,
multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from rag_pdf_parser_spark.operators.multimodal import image_features
from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline
from rag_pdf_parser_spark.sources.pages import synth_pages
from rag_pdf_parser_spark.streaming.events import hourly_event_stats, run_stream_once

SF_DIR = "/root/testdata/sf0.001"


def test_resume_no_double_processing(spark, tmp_path):
    """Kill-and-restart semantics: process half, then resume with the full
    input — resumed run must process ONLY the missing urls, and the final
    outputs equal an uninterrupted run (SURVEY §5.4)."""
    pages = synth_pages(spark, 80)
    half = pages.limit(40)

    out1 = str(tmp_path / "interrupted")
    p1 = ExtractionPipeline(spark, out1, partitions=4)
    r1 = p1.run(half, run_id="r1", with_chunks=False)
    assert r1["docs_processed"] == 40

    r2 = p1.run(pages, run_id="r2", with_chunks=False)
    assert r2["docs_processed"] == 40  # only the other half

    manifest = spark.read.parquet(p1.manifest_path)
    assert manifest.count() == 80
    assert manifest.select("url").distinct().count() == 80  # no url twice

    out2 = str(tmp_path / "clean")
    p2 = ExtractionPipeline(spark, out2, partitions=4)
    p2.run(pages, run_id="single", with_chunks=False)

    a = spark.read.parquet(p1.docs_path).select("url", "doc_id", "extracted_text")
    b = spark.read.parquet(p2.docs_path).select("url", "doc_id", "extracted_text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_crash_between_sinks_and_manifest_commit(spark, tmp_path):
    """r3 verdict #2: death AFTER the content-sink appends but BEFORE the
    manifest commit must not duplicate rows — the orphan batch partitions
    stay invisible to committed readers, the rerun re-extracts every url the
    manifest never saw, and the committed output equals an uninterrupted
    run EXACTLY."""
    pages = synth_pages(spark, 60)

    out = str(tmp_path / "crashy")
    p = ExtractionPipeline(spark, out, partitions=4)

    real_commit = p._commit

    def dying_commit(staging, batch_id):  # crash at the worst moment
        raise RuntimeError("simulated death before manifest commit")

    p._commit = dying_commit
    with pytest.raises(RuntimeError, match="simulated death"):
        p.run(pages, run_id="r1", with_chunks=True)

    # the crash left orphan content: raw sink has rows, committed view none
    assert spark.read.parquet(p.docs_path).count() == 60
    assert p.committed_batch_ids() == []
    assert p.read_docs().count() == 0

    # rerun (recovered process): manifest never saw the urls → full redo
    p._commit = real_commit
    r = p.run(pages, run_id="r1-retry", with_chunks=True)
    assert r["docs_processed"] == 60

    # committed readers see the retry batch ONLY — no duplicates anywhere
    docs = p.read_docs()
    assert docs.count() == 60
    assert docs.select("url").distinct().count() == 60
    chunks = p.read_chunks()
    assert chunks.count() == chunks.select("chunk_id").distinct().count()

    # committed output == an uninterrupted clean run, byte-for-byte
    clean = ExtractionPipeline(spark, str(tmp_path / "clean"), partitions=4)
    clean.run(pages, run_id="single", with_chunks=True)
    cols = ["url", "doc_id", "extracted_text"]
    a, b = docs.select(*cols), clean.read_docs().select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ca = p.read_chunks().select("chunk_id", "doc_id", "text")
    cb = clean.read_chunks().select("chunk_id", "doc_id", "text")
    assert ca.exceptAll(cb).count() == 0 and cb.exceptAll(ca).count() == 0

    # the committed read prunes orphan partitions STATICALLY (no orphan data
    # file is opened): PartitionFilters carries the batch_id IN-list
    plan = p.read_docs()._jdf.queryExecution().executedPlan().toString()
    assert "batch_id" in plan.split("PartitionFilters")[1].split("]")[0], plan

    # vacuum reclaims the orphan batch dirs; committed rows untouched.
    # age 0: the test KNOWS no run is in flight — the default age guard
    # now protects live runs' not-yet-committed batch dirs too (ADVICE r4)
    removed = p.vacuum_uncommitted(0)
    assert removed >= 3  # docs+blocks+chunks orphans (+ staging if present)
    assert spark.read.parquet(p.docs_path).count() == 60
    assert p.read_docs().count() == 60


def test_pipeline_json_sinks_with_commit_layout(spark, tmp_path):
    """fmt='json' (the reference's JSONL sinks) must work with the
    batch_id-partitioned commit layout: line-delimited files under
    batch_id=<token> dirs, committed readers pruning as for parquet."""
    pages = synth_pages(spark, 20)
    p = ExtractionPipeline(spark, str(tmp_path / "j"), partitions=2)
    r = p.run(pages, run_id="r1", with_chunks=True, fmt="json")
    assert r["docs_processed"] == 20
    docs = p.read_docs(fmt="json")
    assert docs.count() == 20 and "batch_id" not in docs.columns
    assert p.read_chunks(fmt="json").count() > 0
    # the sink layout is really JSONL under batch partitions
    batch_dirs = [d for d in os.listdir(p.docs_path)
                  if d.startswith("batch_id=")]
    assert len(batch_dirs) == 1
    inner = os.listdir(os.path.join(p.docs_path, batch_dirs[0]))
    assert any(f.endswith(".json") for f in inner), inner


def test_pipeline_url_gate_blocks_before_extraction(spark, tmp_path):
    """url_blocklist: blocked pages never reach the content sinks, are
    manifest-recorded as URL_BLOCKED (so resume skips them forever), and
    clean pages extract normally."""
    import pandas as pd

    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    body = b"<html><body><p>sufficiently long real page content</p></body></html>"
    rows = [(f"https://sub{i}.spam.example/p/{i}", None, body, "", "en")
            for i in range(3)]
    rows += [(f"https://ok.example/p/{i}", None, body, "", "en")
             for i in range(4)]
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    blocked = spark.createDataFrame([("spam.example",)], "host string")

    p = ExtractionPipeline(spark, str(tmp_path / "ug"), partitions=2)
    r = p.run(pages, run_id="r1", with_chunks=False, url_blocklist=blocked)
    assert r["urls_blocked"] == 3 and r["docs_processed"] == 4, r

    docs = p.read_docs()
    assert docs.count() == 4
    assert docs.where(F.col("url").contains("spam")).count() == 0
    m = spark.read.parquet(p.manifest_path)
    blocked_rows = m.where(F.col("failure_code") == "URL_BLOCKED")
    assert blocked_rows.count() == 3
    assert all(r["bytes_out"] == 0 and r["bytes_in"] > 0
               for r in blocked_rows.collect())

    # resume: nothing left to do — blocked urls are settled in the manifest
    r2 = p.run(pages, run_id="r2", with_chunks=False, url_blocklist=blocked)
    assert r2["docs_processed"] == 0 and r2["urls_blocked"] == 0, r2
    assert spark.read.parquet(p.manifest_path).count() == 7


def test_manifest_summary_lineage(spark, tmp_path):
    pages = synth_pages(spark, 60)
    out = str(tmp_path / "lineage")
    p = ExtractionPipeline(spark, out, partitions=4)
    p.run(pages, run_id="r1", with_chunks=False)
    s = p.manifest_summary().collect()
    assert sum(r["urls_processed"] for r in s) == 60
    assert all(r["bytes_in"] > 0 for r in s if r["urls_processed"] > 0)
    codes = {k for r in s for k in r["failure_codes"]}
    assert "OK" in codes


def test_streaming_matches_batch(spark, tmp_path):
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in hourly_event_stats(events).collect()
    }
    # streaming file source needs a directory, not a bare file
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    import shutil

    shutil.copy(os.path.join(SF_DIR, "events.parquet"),
                src_dir / "events.parquet")
    got = run_stream_once(
        spark,
        str(src_dir),
        events.schema,
        str(tmp_path / "ckpt"),
        query_name="t_hourly",
    )
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    assert stream == batch


def test_multimodal_feature_plumbing(spark):
    rows = [
        ("m1", b"\x89PNG\r\n" + b"x" * 100),
        ("m2", b"\xff\xd8\xff" + b"y" * 50),
        ("m3", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    got = {r["media_id"]: r for r in image_features(df).collect()}
    assert got["m1"]["format_guess"] == "png"
    assert got["m2"]["format_guess"] == "jpeg"
    assert got["m3"]["n_bytes"] == 0
    assert all(len(r["phash"]) == 16 for r in got.values())
    # deterministic
    again = {r["media_id"]: r for r in image_features(df).collect()}
    assert {k: tuple(v) for k, v in got.items()} == {k: tuple(v) for k, v in again.items()}


def test_decode_stub_raises(spark):
    from rag_pdf_parser_spark.operators.multimodal import decode_image_stub

    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x89PNG")


def test_stateful_streaming_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user running totals with state carried
    across micro-batches (two files, maxFilesPerTrigger=1) must equal the
    batch groupBy totals."""
    from rag_pdf_parser_spark.streaming.events import user_running_stats_stateful

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    src = tmp_path / "ev2"
    src.mkdir()
    events.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a"))
    events.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b"))
    # flatten the two file sets into one dir
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(src / "*" / "*.parquet")))):
        shutil.copy(f, src / f"part{i}.parquet")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/part*.parquet"))
    out = user_running_stats_stateful(stream)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_state")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .start())
    q.processAllAvailable()
    q.stop()
    # last emitted row per user = final running totals
    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM t_state"
    ).collect()
    final = {}
    for r in rows:  # memory sink appends per batch; keep max n_events
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = {
        r["user_id"]: (r["n"], r["v"])
        for r in events.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("v")).collect()
    }
    assert set(final) == set(batch)
    for u, (n, v) in batch.items():
        assert final[u][0] == n, u
        assert abs(final[u][1] - v) < 1e-6, u


def test_salted_repartition_defuses_host_skew(spark):
    """North-rule skew demonstration: a pathologically skewed host
    distribution (90% of pages on one host) still yields balanced
    extraction partitions after repartition(n, xxhash64(url))."""
    import pandas as pd

    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    rows = []
    for i in range(2000):
        host = "bighost" if i % 10 != 0 else f"host{i}"
        rows.append((f"https://{host}.example/p/{i}", None,
                     b"<html><body><p>skew test page</p></body></html>", "", "en"))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)

    salted = pages.repartition(8, F.xxhash64("url"))
    sizes = [r["n"] for r in salted.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 8
    # perfectly skewed key (host) — but url-hash spreads rows uniformly:
    # no partition more than 2x the mean
    mean = sum(sizes) / len(sizes)
    assert max(sizes) < 2 * mean, sizes

    # contrast: partitioning BY HOST concentrates 90% in one partition
    by_host = pages.repartition(8, F.regexp_extract("url", r"https://([^.]+)", 1))
    sizes_h = [r["n"] for r in by_host.groupBy(F.spark_partition_id().alias("p"))
               .agg(F.count("*").alias("n")).collect()]
    assert max(sizes_h) > 5 * (sum(sizes_h) / len(sizes_h)), sizes_h


def test_streaming_incremental_extraction(spark, tmp_path):
    """Incremental extraction: the SAME mapInArrow extraction stage runs on
    a streaming pages source (micro-batched files); results equal batch."""
    from rag_pdf_parser_spark.operators.extract import extract_docs
    from rag_pdf_parser_spark.schema import PAGES_SCHEMA
    from rag_pdf_parser_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 60)
    src = tmp_path / "pages_src"
    pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).write.parquet(str(src / "a"))
    pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1).write.parquet(str(src / "b"))
    import glob
    import shutil
    src.mkdir(exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(str(src / "*" / "*.parquet")))):
        shutil.copy(f, src / f"part{i}.parquet")

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 2)
              .parquet(str(src) + "/part*.parquet"))
    out = extract_docs(stream, salt=False)  # no repartition on streams
    q = (out.select("url", "doc_id", "extracted_text")
         .writeStream.outputMode("append").format("memory")
         .queryName("t_extract_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .start())
    q.processAllAvailable()
    q.stop()
    stream_rows = {r["url"]: (r["doc_id"], r["extracted_text"])
                   for r in spark.sql("SELECT * FROM t_extract_stream").collect()}
    batch_rows = {r["url"]: (r["doc_id"], r["extracted_text"])
                  for r in extract_docs(pages).select(
                      "url", "doc_id", "extracted_text").collect()}
    assert stream_rows == batch_rows


def test_bucketed_seen_hashes_join_avoids_shuffle(spark, tmp_path):
    """10^12-scale design point: the seen_hashes table bucketed by hash lets
    the dedup anti-join read co-located buckets instead of shuffling the big
    side — verify the bucketed side joins WITHOUT an Exchange in the plan."""
    import io
    from contextlib import redirect_stdout

    from rag_pdf_parser_spark.functions import normalized_text_hash_expr

    docs = spark.createDataFrame(
        [(i, f"document body number {i}") for i in range(1000)],
        "doc_id long, text string",
    ).withColumn("h", normalized_text_hash_expr(F.col("text")))

    seen = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("h").alias("hash"))
    spark.sql("DROP TABLE IF EXISTS seen_bucketed")
    (seen.write.mode("overwrite").bucketBy(8, "hash")
     .sortBy("hash").saveAsTable("seen_bucketed"))

    seen_t = spark.table("seen_bucketed")
    # pre-shuffle the probe side into the SAME bucketing, disable broadcast
    # so the join must use the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = docs.repartition(8, F.col("h"))
        joined = probe.join(seen_t, probe.h == seen_t.hash, "left_anti")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        # the scan of the bucketed table must feed the join with NO Exchange
        # between FileScan(seen_bucketed) and the SortMergeJoin
        assert "seen_bucketed" in plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        assert joined.count() == 900
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS seen_bucketed")


class TestAsofJoin:
    """Custom as-of join (operators/asof.py) vs pandas merge_asof."""

    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 25), (3, "a", 5), (4, "b", 7), (5, "c", 9)],
            "event_id long, k string, ts long",
        )
        right = spark.createDataFrame(
            [("a", 10, 100.0), ("a", 20, 200.0), ("b", 8, 300.0)],
            "k string, ts long, px double",
        )
        return left, right

    def test_matches_pandas_merge_asof(self, spark):
        import pandas as pd

        from rag_pdf_parser_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        got = {r["event_id"]: (r["asof_ts"], r["asof_px"])
               for r in asof_join(left, right, on="k", ts="ts").collect()}

        lp = left.toPandas().sort_values("ts")
        rp = right.toPandas().sort_values("ts")
        exp = pd.merge_asof(lp, rp, on="ts", by="k")
        for _, row in exp.iterrows():
            a_ts, a_px = got[row["event_id"]]
            if pd.isna(row["px"]):
                assert a_px is None, row["event_id"]
            else:
                assert a_px == row["px"] and a_ts is not None

    def test_inclusive_at_equal_ts(self, spark):
        from rag_pdf_parser_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        got = {r["event_id"]: r["asof_px"]
               for r in asof_join(left, right, on="k", ts="ts").collect()}
        assert got[1] == 100.0  # ts == 10 matches the ts=10 right row
        assert got[2] == 200.0
        assert got[3] is None   # nothing at or before ts=5
        assert got[5] is None   # key with no right rows

    def test_tolerance(self, spark):
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        got = {r["event_id"]: r["asof_px"]
               for r in asof_join(left, right, on="k", ts="ts",
                                  tolerance=F.lit(2)).collect()}
        assert got[1] == 100.0   # staleness 0 <= 2
        assert got[2] is None    # ts=25 vs right ts=20 → staleness 5 > 2
        assert got[4] is None    # ts=7 has no right at/before (right ts=8 is after)

    def test_one_shuffle_plan(self, spark):
        from rag_pdf_parser_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        plan = asof_join(left, right, on="k", ts="ts")._jdf \
            .queryExecution().executedPlan().toString()
        # union-window formulation: exactly one Exchange (on the key), no join
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan

    def test_duplicate_right_ts_deterministic(self, spark):
        """Round-2 verdict #5: duplicate (key, ts) right rows must yield the
        SAME winner at every partitioning/row order — the window order now
        includes a content-hash tiebreak of the right payload."""
        from rag_pdf_parser_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(i, "a", 50) for i in range(1, 6)] + [(9, "b", 50)],
            "event_id long, k string, ts long",
        )
        dup_rows = [("a", 50, 100.0), ("a", 50, 200.0), ("a", 50, 300.0),
                    ("b", 50, 7.0)]
        results = []
        for n in (1, 2, 16):
            for rows in (dup_rows, dup_rows[::-1]):
                right = spark.createDataFrame(
                    rows, "k string, ts long, px double").repartition(n)
                got = sorted(
                    (r["event_id"], r["asof_px"])
                    for r in asof_join(left.repartition(n), right,
                                       on="k", ts="ts").collect()
                )
                results.append(got)
        assert all(r == results[0] for r in results), results
        # every left row on key 'a' carries the same (hash-chosen) winner
        a_vals = {px for eid, px in results[0] if eid != 9}
        assert len(a_vals) == 1, results[0]


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a stream with injected duplicate
    event_ids produces exactly the batch-distinct row set."""
    from rag_pdf_parser_spark.streaming.events import dedup_events

    src = str(tmp_path / "dup_events")
    ckpt = str(tmp_path / "ckpt_dedup")
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .limit(500)
    # duplicate every row once (two files → at least two micro-batch inputs)
    base.write.mode("overwrite").parquet(src)
    base.write.mode("append").parquet(src)

    stream = spark.readStream.schema(base.schema).parquet(src)
    q = (
        dedup_events(stream).writeStream.outputMode("append")
        .format("memory").queryName("dedup_sink")
        .option("checkpointLocation", ckpt).start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r["event_id"] for r in spark.sql("SELECT * FROM dedup_sink").collect()}
    exp = {r["event_id"] for r in dedup_events(spark.read.parquet(src)).collect()}
    assert got == exp
    assert len(got) == base.count()


def test_media_scan_and_blob_sink(spark, tmp_path, pages_df):
    """S5/K5 analogs: visual blocks → media table → per-row blob files with
    recorded relative paths; payload bytes round-trip exactly."""
    import os

    from rag_pdf_parser_spark.operators.extract import explode_blocks, extract_docs
    from rag_pdf_parser_spark.operators.multimodal import (
        image_features,
        media_from_blocks,
        write_media_blobs,
    )

    blocks = explode_blocks(extract_docs(pages_df))
    media = media_from_blocks(blocks)
    n = media.count()
    assert n > 20
    assert media.columns == ["media_id", "media_type", "content",
                             "doc_id", "block_id"]

    out = str(tmp_path / "blobs")
    with_paths = write_media_blobs(media, out)
    rows = with_paths.select("image_path", "content").collect()
    assert len(os.listdir(out)) == n
    for r in rows[:10]:
        with open(os.path.join(out, r["image_path"]), "rb") as f:
            assert f.read() == bytes(r["content"])

    # the media table feeds the feature/dedup path directly
    feats = image_features(media)
    assert feats.count() == n
    assert feats.where(F.length("phash") == 16).count() == n


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """The north-star pipeline as a checkpointed stream: page files →
    micro-batch extraction → parquet sink. Byte identity per url with the
    batch path (and transitively with the pure-Python kernel goldens)."""
    from rag_pdf_parser_spark.operators.extract import extract_docs
    from rag_pdf_parser_spark.sources.pages import synth_pages
    from rag_pdf_parser_spark.streaming.pages import run_extraction_stream

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 120)
    # several files → several micro-batches at maxFilesPerTrigger=8
    pages.repartition(12).write.parquet(src)

    run_extraction_stream(spark, src, out, ckpt)
    got = {r["url"]: (r["doc_id"], r["extracted_text"])
           for r in spark.read.parquet(out).collect()}
    exp = {r["url"]: (r["doc_id"], r["extracted_text"])
           for r in extract_docs(pages).collect()}
    assert got == exp

    # resume: append new files, rerun — only the new urls are added, old
    # rows are not reprocessed (exactly-once via checkpoint)
    more = synth_pages(spark, 150).where(~F.col("url").isin(list(got)))
    more.repartition(3).write.mode("append").parquet(src)
    run_extraction_stream(spark, src, out, ckpt)
    after = spark.read.parquet(out)
    assert after.count() == 150
    assert after.select("url").distinct().count() == 150


def test_streaming_curation_gates_match_batch(spark, tmp_path):
    """The curation gates are stateless projections + a stream-static
    broadcast join, so the SAME flag_corpus plan runs unchanged over a
    micro-batched stream — every flag equal to the batch run per doc."""
    from rag_pdf_parser_spark.plans.curate import flag_corpus

    good = " ".join(f"tok{i}ax" for i in range(70)) + "."
    rows = [
        (1, "https://spam.example/x", good),
        (2, "https://ok.example/a", "too short"),
        (3, "https://ok.example/b", good),
        (4, "https://ok.example/c/img.jpg", good),
        (5, "https://ok.example/d", None),
        (6, "https://ok.example/e", ("repeat me " * 50) + "end."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    blocked = spark.createDataFrame([("spam.example",)], "host string")
    src = str(tmp_path / "src")
    out = str(tmp_path / "flags_out")
    ck = str(tmp_path / "ck")
    docs.repartition(3).write.parquet(src)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (flag_corpus(stream, blocked)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    cols = ["url_ok", "gopher_keep", "repetition_keep", "model_keep",
            "pass_all"]
    got = {r["doc_id"]: tuple(r[c] for c in cols)
           for r in spark.read.parquet(out).collect()}
    exp = {r["doc_id"]: tuple(r[c] for c in cols)
           for r in flag_corpus(docs, blocked).collect()}
    assert got == exp, (got, exp)


def test_streaming_minhash_dedup_gate(spark, tmp_path):
    """Streaming near-dup gate: docs colliding with the PERSISTED bucket
    store (or with an earlier doc in the same batch) are dropped; the store
    carries state across micro-batches AND across restarts."""
    from rag_pdf_parser_spark.streaming.minhash import run_streaming_dedup

    src = tmp_path / "docs_src"
    src.mkdir()
    out = str(tmp_path / "novel")
    seen = str(tmp_path / "seen")
    ckpt = str(tmp_path / "ck")

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "spark structured streaming deduplication with a persistent store"
    t3 = "a completely different third document about engines and pipelines"
    t5 = "novel content arriving in the second micro batch of the stream"
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, t1), (2, t2), (3, t3)], schema) \
        .coalesce(1).write.parquet(str(src / "f1"))
    # 4 = near-copy of 1 (cross-batch), 6 = copy of 5 (within-batch)
    spark.createDataFrame([(4, t1), (5, t5), (6, t5)], schema) \
        .coalesce(1).write.parquet(str(src / "f2"))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(src / "*" / "*.parquet")))):
        shutil.copy(f, src / f"part{i}.parquet")

    sch = spark.read.parquet(str(src / "f1")).schema
    run_streaming_dedup(spark, str(src) + "/part*.parquet", sch, out, seen,
                        ckpt)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 3, 5], kept

    # restart with a third file: copy of 2 dropped via the PERSISTED store,
    # brand-new 7 kept
    spark.createDataFrame(
        [(7, "yet another brand new document body with fresh words"),
         (8, t2)], schema).coalesce(1).write.parquet(str(src / "f3"))
    for i, f in enumerate(sorted(glob.glob(str(src / "f3" / "*.parquet")))):
        shutil.copy(f, src / f"part9{i}.parquet")
    run_streaming_dedup(spark, str(src) + "/part*.parquet", sch, out, seen,
                        ckpt)
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [1, 2, 3, 5, 7], kept2


def test_streaming_store_is_partitioned_and_pruned(spark, tmp_path):
    """The r3 scale-killer fix: the LSH seen store is bp-partitioned and a
    micro-batch's lookup reads ONLY its bp partitions (static partition
    pruning), never the whole monotonically-growing store."""
    from rag_pdf_parser_spark.streaming.minhash import (
        STORE_PARTITIONS,
        read_store_pruned,
        run_streaming_dedup,
        store_partition_expr,
    )

    src = tmp_path / "src"
    src.mkdir()
    seen = str(tmp_path / "seen")
    texts = [(i, f"document number {i} with some distinct words {i * 7}")
             for i in range(40)]
    spark.createDataFrame(texts, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f1"))
    sch = spark.read.parquet(str(src / "f1")).schema
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(src / "f1" / "*.parquet")))):
        shutil.copy(f, src / f"part{i}.parquet")
    run_streaming_dedup(spark, str(src) + "/part*.parquet", sch,
                        str(tmp_path / "out"), seen, str(tmp_path / "ck"))

    # layout: bp=<int> partition dirs, values in [0, STORE_PARTITIONS)
    bp_dirs = [d for d in os.listdir(seen) if d.startswith("bp=")]
    assert len(bp_dirs) > 1, bp_dirs
    assert all(0 <= int(d.split("=")[1]) < STORE_PARTITIONS for d in bp_dirs)

    # pruned read: partition filter is STATIC (PartitionFilters has the
    # IN-list) and partitionsRead < total partitions
    store = spark.read.parquet(seen)
    some_bps = sorted({int(d.split("=")[1]) for d in bp_dirs})[:2]
    pruned = read_store_pruned(spark, seen, some_bps)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bp" in pf, plan
    got_rows = pruned.count()
    expect = store.where(F.col("bp").isin(some_bps)).count()
    assert got_rows == expect and got_rows < store.count()

    # the partition expr is deterministic and stable (store invariant)
    df = spark.createDataFrame([(0, "abc")], "band int, bucket string")
    a = df.select(store_partition_expr(F.col("band"), F.col("bucket"))
                  .alias("bp")).collect()[0]["bp"]
    assert 0 <= a < STORE_PARTITIONS

    # the modulus is persisted with the store and a mismatched rerun fails
    # LOUDLY instead of pruning the wrong partitions (r4 review finding)
    from rag_pdf_parser_spark.streaming.minhash import store_meta_partitions
    assert store_meta_partitions(seen) == STORE_PARTITIONS
    # (Spark wraps the foreachBatch ValueError in StreamingQueryException)
    with pytest.raises(Exception, match="store_partitions"):
        run_streaming_dedup(spark, str(src) + "/part*.parquet", sch,
                            str(tmp_path / "out2"), seen,
                            str(tmp_path / "ck2"),
                            store_partitions=STORE_PARTITIONS * 2)


def test_compaction_merge_equivalent(spark, tmp_path):
    """plans.maintenance: append-duplicated stores are rewritten to one row
    per key with the partition layout preserved; the swap is atomic with
    crash recovery (trash-dir rename-back)."""
    from rag_pdf_parser_spark.plans.maintenance import (
        compact_lsh_store,
        compact_seen_hashes,
        recover_store,
    )
    from rag_pdf_parser_spark.streaming.minhash import store_partition_expr

    # seen_hashes: triple-append the same rows
    seen_path = str(tmp_path / "seen_hashes")
    rows = [(f"h{i}", "normalized_text", "r1") for i in range(10)]
    df = spark.createDataFrame(rows, "hash string, kind string, source string")
    for _ in range(3):
        df.write.mode("append").parquet(seen_path)
    stats = compact_seen_hashes(spark, seen_path)
    assert stats["rows_before"] == 30 and stats["rows_after"] == 10, stats
    assert stats["files_after"] <= stats["files_before"]
    got = spark.read.parquet(seen_path)
    assert got.count() == 10 and set(got.columns) == {"hash", "kind", "source"}

    # LSH store: duplicate bucket rows, bp layout must survive compaction
    lsh_path = str(tmp_path / "lsh")
    b = spark.createDataFrame(
        [(i % 4, f"bucket{i % 6}") for i in range(24)],
        "band int, bucket string").withColumn(
        "bp", store_partition_expr(F.col("band"), F.col("bucket")))
    b.write.mode("append").partitionBy("bp").parquet(lsh_path)
    b.write.mode("append").partitionBy("bp").parquet(lsh_path)
    from rag_pdf_parser_spark.streaming.minhash import (
        store_meta_partitions,
        write_store_meta,
    )
    write_store_meta(lsh_path, 64)
    stats = compact_lsh_store(spark, lsh_path)
    # (i%4, bucket{i%6}) cycles with period 12 → 12 distinct keys of 48 rows
    assert stats["rows_before"] == 48 and stats["rows_after"] == 12, stats
    assert any(d.startswith("bp=") for d in os.listdir(lsh_path))
    # the persisted modulus RIDES the atomic swap (copied into the tmp dir
    # before the commit rename — a crash at any point leaves either the old
    # store+meta or the new store+meta, never a meta-less store)
    assert store_meta_partitions(lsh_path) == 64

    # crash recovery: simulate death between the two swap renames
    import shutil as sh
    sh.move(seen_path, seen_path + ".__compact_trash")
    assert recover_store(seen_path) is True
    assert spark.read.parquet(seen_path).count() == 10
    assert recover_store(seen_path) is False  # idempotent


def test_pipeline_recovers_half_swapped_seen_store(spark, tmp_path):
    """r4 review finding: a compaction crash between the two swap renames
    leaves seen_hashes in the trash dir; the next dedupe run must RESTORE
    it (not silently start a fresh store and pass known duplicates)."""
    import shutil as sh

    import pandas as pd

    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    body = b"<html><body><p>the very same page body both runs</p></body></html>"
    mk = lambda url: (url, None, body, "", "en")  # noqa: E731
    p1 = spark.createDataFrame(
        pd.DataFrame([mk("https://a.example/1")],
                     columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    out = str(tmp_path / "rec")
    pipe = ExtractionPipeline(spark, out, partitions=2)
    pipe.run(p1, run_id="r1", with_chunks=False, dedupe=True)
    assert os.path.exists(pipe.seen_path)

    # simulate the compaction half-swap crash
    sh.move(pipe.seen_path, pipe.seen_path + ".__compact_trash")

    p2 = spark.createDataFrame(
        pd.DataFrame([mk("https://b.example/2")],  # same CONTENT, new url
                     columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    r = pipe.run(p2, run_id="r2", with_chunks=False, dedupe=True)
    # without recovery this would be 0 (fresh store) — the duplicate must
    # still be recognized via the RESTORED store
    assert r["duplicates_skipped"] == 1, r


def test_streaming_rejects_legacy_flat_store(spark, tmp_path):
    """A pre-bp-layout store (root parquet files, no partitions, no meta)
    must be rejected loudly — treating it as empty would re-admit every
    seen duplicate, then corrupt the layout by appending partitions."""
    from rag_pdf_parser_spark.streaming.minhash import run_streaming_dedup

    seen = str(tmp_path / "flat_seen")
    spark.createDataFrame([(0, "b0")], "band int, bucket string") \
        .coalesce(1).write.parquet(seen)  # legacy flat layout
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, "some document text")],
                          "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f1"))
    import glob
    import shutil as sh
    for i, f in enumerate(sorted(glob.glob(str(src / "f1" / "*.parquet")))):
        sh.copy(f, src / f"part{i}.parquet")
    sch = spark.read.parquet(str(src / "f1")).schema
    with pytest.raises(Exception, match="FLAT layout"):
        run_streaming_dedup(spark, str(src) + "/part*.parquet", sch,
                            str(tmp_path / "out"), seen,
                            str(tmp_path / "ck"))


def test_writer_lease_mutual_exclusion(spark, tmp_path):
    """r4 verdict #3: two pipelines on one out_dir could both pass the
    resume anti-join for the same urls and commit duplicates. The writer
    lease makes the second run fail LOUDLY at start; a stolen-stale lease
    aborts at the commit point, not after it."""
    from rag_pdf_parser_spark.plans.lease import LeaseHeldError, WriterLease
    from rag_pdf_parser_spark.plans.maintenance import compact_seen_hashes

    out = str(tmp_path / "lease")
    pages = synth_pages(spark, 12)
    p = ExtractionPipeline(spark, out, partitions=2)

    # a held lease blocks a new run — and nothing gets committed
    holder = WriterLease(out).acquire()
    with pytest.raises(LeaseHeldError, match="held by another run"):
        p.run(pages, run_id="r-blocked", with_chunks=False)
    assert p.committed_batch_ids() == []
    # ... and blocks maintenance on stores under the same out_dir (#9)
    seen = os.path.join(out, "seen_hashes")
    spark.createDataFrame([("h1", "normalized_text", "r")],
                          "hash string, kind string, source string") \
        .write.mode("append").parquet(seen)
    with pytest.raises(LeaseHeldError):
        compact_seen_hashes(spark, seen)
    holder.release()

    # released → run proceeds, and releases its own lease afterwards
    r = p.run(pages, run_id="r1", with_chunks=False)
    assert r["docs_processed"] == 12
    assert not os.path.exists(os.path.join(out, "_lock"))
    assert compact_seen_hashes(spark, seen)["rows_after"] == 1

    # stale takeover: a crashed writer's old lock is stolen after
    # stale_sec; the displaced writer must fail its commit-point check
    l1 = WriterLease(out).acquire()
    os.utime(l1.dir, (1, 1))  # pretend l1's holder died long ago
    l2 = WriterLease(out).acquire()  # steals
    with pytest.raises(LeaseHeldError, match="taken over"):
        l1.assert_held()
    l1.release()  # non-owner release is a no-op
    l2.assert_held()
    l2.release()
    assert not os.path.exists(l2.dir)

    # a fresh (non-stale) lock is NOT stealable
    l3 = WriterLease(out).acquire()
    with pytest.raises(LeaseHeldError):
        WriterLease(out).acquire()
    l3.release()


def test_two_interleaved_runs_commit_each_url_once(spark, tmp_path):
    """The interleave the lease exists for: run B starts while run A is
    between its content append and its manifest commit (both would have
    passed the resume anti-join for every url). B must be rejected, and
    committed readers must show each url exactly once."""
    from rag_pdf_parser_spark.plans.lease import LeaseHeldError

    out = str(tmp_path / "interleave")
    pages = synth_pages(spark, 10)
    p1 = ExtractionPipeline(spark, out, partitions=2)
    p2 = ExtractionPipeline(spark, out, partitions=2)
    real_commit = p1._commit
    b_attempted = {}

    def commit_with_interleaved_writer(staging, batch_id):
        # run B arrives exactly at A's most vulnerable instant
        with pytest.raises(LeaseHeldError):
            p2.run(pages, run_id="rB", with_chunks=False)
        b_attempted["yes"] = True
        real_commit(staging, batch_id)

    p1._commit = commit_with_interleaved_writer
    p1.run(pages, run_id="rA", with_chunks=False)
    assert b_attempted
    docs = p1.read_docs()
    assert docs.count() == 10
    assert docs.select("url").distinct().count() == 10
    m = spark.read.parquet(p1.manifest_path)
    assert m.count() == 10 and m.select("url").distinct().count() == 10


def test_compact_output_folds_batches(spark, tmp_path):
    """r4 verdict #7: manifest compaction — committed batches fold into one
    base batch under the same rename-commit semantics; readers equal
    before/after; crash between the swap renames is recovered at every
    committed-read entry point; resume stays exact."""
    from rag_pdf_parser_spark.plans.lease import LeaseHeldError, WriterLease
    from rag_pdf_parser_spark.plans.maintenance import compact_output

    out = str(tmp_path / "co")
    pages = synth_pages(spark, 30)
    p = ExtractionPipeline(spark, out, partitions=2)
    p.run(pages.limit(15), run_id="r1", with_chunks=True)
    p.run(pages, run_id="r2", with_chunks=True)
    assert len(p.committed_batch_ids()) == 2

    cols = ["url", "doc_id", "extracted_text"]
    before_docs = p.read_docs().select(*cols).localCheckpoint(eager=True)
    before_blocks = p.read_blocks().count()
    before_chunks = p.read_chunks().count()

    # a held lease blocks compaction too
    holder = WriterLease(out).acquire()
    with pytest.raises(LeaseHeldError):
        compact_output(spark, out)
    holder.release()

    res = compact_output(spark, out)
    assert res["batches_before"] == 2 and res["batches_after"] == 1, res
    ids = p.committed_batch_ids()
    assert len(ids) == 1 and ids[0].startswith("base-"), ids
    # readers equal before/after
    after_docs = p.read_docs().select(*cols)
    assert after_docs.exceptAll(before_docs).count() == 0
    assert before_docs.exceptAll(after_docs).count() == 0
    assert p.read_blocks().count() == before_blocks
    assert p.read_chunks().count() == before_chunks
    # old content partitions vacuumed: one batch dir per sink
    for sink in (p.docs_path, p.blocks_path, p.chunks_path):
        dirs = [d for d in os.listdir(sink) if d.startswith("batch_id=")]
        assert dirs == [f"batch_id={ids[0]}"], (sink, dirs)
    # resume is still exact over the folded manifest
    r = p.run(pages, run_id="r3", with_chunks=True)
    assert r["docs_processed"] == 0
    # re-compaction folds the base batch + r3's empty batch back to one
    res2 = compact_output(spark, out)
    assert res2["batches_after"] == 1, res2
    assert p.read_docs().count() == 30

    # crash between the two swap renames: manifest dir absent, trash
    # present → every committed-read entry point recovers it
    import shutil as sh
    sh.move(p.manifest_path, p.manifest_path + ".__compact_trash")
    assert p.read_docs().count() == 30  # recovered transparently
    assert os.path.isdir(p.manifest_path)
    # ... including the resume gate (a non-recovering gate would re-extract
    # the whole corpus into a duplicate batch)
    sh.move(p.manifest_path, p.manifest_path + ".__compact_trash")
    r = p.run(pages, run_id="r4", with_chunks=False)
    assert r["docs_processed"] == 0


def test_vacuum_spares_young_staging(spark, tmp_path):
    """The vacuum must not delete a staging dir that may belong to an
    in-flight run (between manifest write and commit rename) — only ones
    older than the age threshold."""
    out = str(tmp_path / "v")
    p = ExtractionPipeline(spark, out, partitions=2)
    p.run(synth_pages(spark, 5), run_id="r1", with_chunks=False)
    staging_root = os.path.join(out, "_staging")
    young = os.path.join(staging_root, "inflight-run")
    os.makedirs(young)
    assert p.vacuum_uncommitted() == 0  # young dir spared, nothing orphaned
    assert os.path.isdir(young)
    os.utime(young, (1, 1))  # pretend it is ancient
    assert p.vacuum_uncommitted() == 1
    assert not os.path.exists(young)

    # ADVICE r4: a YOUNG uncommitted batch_id= content dir may belong to a
    # run that is between its sink append and its commit rename — deleting
    # it would commit a manifest referencing vanished rows (silent loss).
    # Young → spared; aged → provably-dead orphan → reclaimed.
    orphan = os.path.join(p.docs_path, "batch_id=inflight-batch")
    os.makedirs(orphan)
    assert p.vacuum_uncommitted() == 0
    assert os.path.isdir(orphan)
    os.utime(orphan, (1, 1))
    assert p.vacuum_uncommitted() == 1
    assert not os.path.exists(orphan)


class TestRangeJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "a", "2024-01-01 10:00:00"), (2, "a", "2024-01-01 11:30:00"),
             (3, "a", "2024-01-01 23:00:00"), (4, "b", "2024-01-01 10:30:00")],
            "event_id long, k string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [("a", "2024-01-01 09:00:00", "2024-01-01 12:00:00", 10),
             ("a", "2024-01-01 12:00:00", "2024-01-01 13:00:00", 20),
             ("b", "2024-01-01 00:00:00", "2024-01-02 00:00:00", 30)],
            "k string, s string, e string, tag int").select(
            "k", F.col("s").cast("timestamp").alias("s"),
            F.col("e").cast("timestamp").alias("e"), "tag")
        return left, right

    def test_containment_semantics(self, spark):
        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left, right = self._frames(spark)
        got = {r["event_id"]: r["tag"]
               for r in range_join_binned(left, right, on="k", ts="ts",
                                          start="s", end="e",
                                          bin_width_sec=3600).collect()}
        # event 3 (23:00, key a) matches no interval → absent on inner join
        assert got == {1: 10, 2: 10, 4: 30}, got

    def test_left_join_keeps_unmatched(self, spark):
        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left, right = self._frames(spark)
        got = {r["event_id"]: r["tag"]
               for r in range_join_binned(left, right, on="k", ts="ts",
                                          start="s", end="e",
                                          bin_width_sec=3600,
                                          how="left").collect()}
        assert got == {1: 10, 2: 10, 3: None, 4: 30}, got

    def test_numeric_epoch_columns(self, spark):
        """Documented contract: ts/start/end may be numeric epoch seconds."""
        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left = spark.createDataFrame(
            [(1, "a", 100), (2, "a", 5000)], "event_id long, k string, ts long")
        right = spark.createDataFrame(
            [("a", 0, 1000, 7)], "k string, s long, e long, tag int")
        got = {r["event_id"]: r["tag"]
               for r in range_join_binned(left, right, on="k", ts="ts",
                                          start="s", end="e",
                                          bin_width_sec=600,
                                          how="left").collect()}
        assert got == {1: 7, 2: None}, got

    def test_fractional_end_crossing_bin_boundary(self, spark):
        """Regression (r3 advice): a fractional EXCLUSIVE end whose fraction
        crosses a bin boundary must still match ts values in the final
        partial bin — floor((end-1)/w) dropped bin 1 for end=900.5, w=900
        and silently lost ts=900.2."""
        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left = spark.createDataFrame(
            [(1, "a", 900.2), (2, "a", 900.6)],
            "event_id long, k string, ts double")
        right = spark.createDataFrame(
            [("a", 0.0, 900.5, 7)], "k string, s double, e double, tag int")
        got = {r["event_id"]: r["tag"]
               for r in range_join_binned(left, right, on="k", ts="ts",
                                          start="s", end="e",
                                          bin_width_sec=900,
                                          how="left").collect()}
        assert got == {1: 7, 2: None}, got

    def test_integer_end_on_bin_boundary_stays_exclusive(self, spark):
        """ceil(end/w)-1 must not ADD a bin either: end exactly on a bin
        boundary is exclusive, so ts == end never matches."""
        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left = spark.createDataFrame(
            [(1, "a", 1799), (2, "a", 1800)],
            "event_id long, k string, ts long")
        right = spark.createDataFrame(
            [("a", 0, 1800, 7)], "k string, s long, e long, tag int")
        got = {r["event_id"]: r["tag"]
               for r in range_join_binned(left, right, on="k", ts="ts",
                                          start="s", end="e",
                                          bin_width_sec=900,
                                          how="left").collect()}
        assert got == {1: 7, 2: None}, got

    def test_unsupported_how_raises(self, spark):
        """'right'/'full' would emit unmatched right rows once per exploded
        bin — must raise, not silently mis-count."""
        import pytest

        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left, right = self._frames(spark)
        with pytest.raises(ValueError, match="inner.*left"):
            range_join_binned(left, right, on="k", ts="ts", start="s",
                              end="e", how="right")

    def test_no_nested_loop_join(self, spark):
        """The whole point: the binned formulation must plan as hash/merge
        equi-joins, never BroadcastNestedLoopJoin."""
        from rag_pdf_parser_spark.operators.rangejoin import range_join_binned

        left, right = self._frames(spark)
        plan = range_join_binned(left, right, on="k", ts="ts", start="s",
                                 end="e")._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                or "BroadcastHashJoin" in plan), plan


def test_pipeline_dedupe_never_gates_failures(spark, tmp_path):
    """Failed/empty extractions all share extracted_text='' but are NOT
    content duplicates of each other — none may be gated or registered."""
    import pandas as pd

    from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline
    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    rows = [(f"https://f.example/{i}", None, b"", "", "en") for i in range(4)]
    rows.append(("https://f.example/ok", None,
                 b"<html><body><p>real content here</p></body></html>", "", "en"))
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    p = ExtractionPipeline(spark, str(tmp_path / "f"), partitions=2)
    r = p.run(pages, run_id="r1", with_chunks=False, dedupe=True)
    assert r["duplicates_skipped"] == 0, r
    m = spark.read.parquet(p.manifest_path)
    assert m.where(F.col("failure_code") == "DUPLICATE").count() == 0
    # only the real doc's hash registered
    assert spark.read.parquet(p.seen_path).count() == 1


def test_pipeline_dedupe_gate(spark, tmp_path):
    """dedupe=True: within-run content duplicates and cross-run duplicates
    (via the persistent seen_hashes store) are skipped from the content
    sinks but recorded in the manifest as DUPLICATE — resume never
    re-extracts them."""
    import pandas as pd

    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    body = b"<html><body><p>identical content body for the dedup gate test</p></body></html>"
    other = b"<html><body><p>a different second page body entirely</p></body></html>"
    rows1 = [(f"https://a.example/{i}", None, body if i < 3 else other, "", "en")
             for i in range(5)]
    pages1 = spark.createDataFrame(
        pd.DataFrame(rows1, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)

    out = str(tmp_path / "dd")
    from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline
    p = ExtractionPipeline(spark, out, partitions=4)
    r1 = p.run(pages1, run_id="r1", with_chunks=False, dedupe=True)
    # 3 copies of `body` → 1 kept; 2 copies of `other` → 1 kept
    assert r1["docs_processed"] == 5 and r1["duplicates_skipped"] == 3, r1
    docs = spark.read.parquet(p.docs_path)
    assert docs.count() == 2
    m = spark.read.parquet(p.manifest_path)
    assert m.where(F.col("failure_code") == "DUPLICATE").count() == 3

    # cross-run: a NEW url with previously-seen content is dropped via the
    # persistent store; a genuinely new page passes
    rows2 = [("https://b.example/new-dup", None, body, "", "en"),
             ("https://b.example/fresh", None,
              b"<html><body><p>never seen before content here</p></body></html>",
              "", "en")]
    pages2 = spark.createDataFrame(
        pd.DataFrame(rows2, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    r2 = p.run(pages1.union(pages2), run_id="r2", with_chunks=False,
               dedupe=True)
    assert r2["docs_processed"] == 2 and r2["duplicates_skipped"] == 1, r2
    assert spark.read.parquet(p.docs_path).count() == 3
    # all 7 urls in the manifest exactly once → nothing re-extracts
    m2 = spark.read.parquet(p.manifest_path)
    assert m2.count() == 7 and m2.select("url").distinct().count() == 7


def test_aqe_skew_join_splits_hot_partition(spark):
    """North-rule skew handling, runtime half: beyond salting (the static
    defusal), AQE's skew-join must split a hot key's partition at runtime —
    asserted on the executed adaptive plan (`SortMergeJoin(skew=true)` +
    skewed AQEShuffleRead), with results identical to the unsplit join.
    Thresholds are lowered so the 300k-row hot key qualifies at test scale;
    at 100 TB the defaults (256 MB) play the same role."""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            old[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload-string-quite-long-"), F.col("id"))
            .alias("pay"))
        right = spark.range(0, 5_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        # 270,000 hot-key rows (key 0 × 1 dim row) + 500 long-tail matches
        assert len(rows) == 270_500
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_video_frame_sampling_plumbing(spark):
    """Frame-sample plumbing: nested frame array with every_n sampling,
    per-frame avg-hash equal to a local recomputation, deterministic."""
    from rag_pdf_parser_spark.kernel.imagex import avg_hash_64, fake_decode_gray
    from rag_pdf_parser_spark.operators.multimodal import video_frame_features

    payload = bytes(range(256)) * 80  # 20480 bytes → 5 frames of 4096
    df = spark.createDataFrame(
        [("v1", payload), ("v2", b"tiny"), ("v3", None)],
        "media_id string, content binary")
    got = {r["media_id"]: r
           for r in video_frame_features(df, every_n=2).collect()}
    v1 = got["v1"]
    assert v1["n_bytes"] == 20480
    # frames 0,2,4 of 5 sampled
    assert [f["frame_idx"] for f in v1["frames"]] == [0, 2, 4]
    assert [f["offset"] for f in v1["frames"]] == [0, 8192, 16384]
    exp0 = avg_hash_64(fake_decode_gray(payload[:4096]))
    assert v1["frames"][0]["phash"] == exp0
    assert got["v2"]["n_frames"] == 1 and got["v3"]["n_frames"] == 0


def test_resize_media_block_mean(spark):
    from rag_pdf_parser_spark.kernel.imagex import GRID, fake_decode_gray
    from rag_pdf_parser_spark.operators.multimodal import resize_media

    payload = bytes(range(200)) * 11
    df = spark.createDataFrame([("m1", payload)],
                               "media_id string, content binary")
    r = resize_media(df, target_grid=8).collect()[0]
    assert r["grid"] == 8 and len(r["pixels"]) == 64
    # local recomputation of one pooled cell
    px = fake_decode_gray(payload)
    blk = GRID // 8
    exp00 = sum(px[y * GRID + x] for y in range(blk)
                for x in range(blk)) // (blk * blk)
    assert r["pixels"][0] == exp00
    assert all(0 <= v <= 255 for v in r["pixels"])


def test_pipeline_curate_stage(spark, tmp_path):
    """r5 verdict #3: the `curate=` pipeline stage — text-quality gates
    wired into the resumable run. Per-gate manifest accounting sums to the
    input; a gated doc never reaches the content sinks, never owns a
    dedup winner slot, and is never re-gated on resume; committed output
    equals `curate_corpus` over the same extracted input."""
    import random

    import pandas as pd

    from rag_pdf_parser_spark.operators.extract import extract_docs
    from rag_pdf_parser_spark.plans.curate import curate_corpus
    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    def good(seed):
        rng = random.Random(seed)
        return " ".join(f"{'abcdefghijklmnop'[rng.randrange(16)]}word{i}"
                        for i in range(70)) + "."

    texts = {
        "a-ok": good(0),
        "b-okdup": good(0),         # exact dup of a-ok (larger url loses)
        "c-gopher": "too short",
        "d-rep": ("the quick brown fox jumps over the lazy dog and runs "
                  "on. " * 30).strip(),
        "e-model": good(9),          # passes gopher+repetition, fails model
    }
    rows = [(f"https://ok.example/{k}", None,
             f"<html><body><p>{t}</p></body></html>".encode(), "", "en")
            for k, t in texts.items()]
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                    "lang"]),
        schema=PAGES_SCHEMA)

    p = ExtractionPipeline(spark, str(tmp_path / "cur"), partitions=2)
    r = p.run(pages, run_id="r1", with_chunks=False, curate=True,
              dedupe=True)
    assert r["docs_processed"] == 5
    assert r["curation_drops"] == {"GOPHER_DROP": 1, "REPETITION_DROP": 1,
                                   "MODEL_DROP": 1}, r
    assert r["duplicates_skipped"] == 1

    # per-gate manifest accounting sums to the input (funnel derivable
    # from manifest_summary, the verdict's ask)
    m = spark.read.parquet(p.manifest_path)
    codes = {row["code"]: row["n"] for row in
             m.groupBy(F.coalesce("failure_code", F.lit("OK"))
                       .alias("code")).agg(F.count("*").alias("n"))
             .collect()}
    assert codes == {"OK": 1, "GOPHER_DROP": 1, "REPETITION_DROP": 1,
                     "MODEL_DROP": 1, "DUPLICATE": 1}, codes
    assert sum(codes.values()) == len(texts)
    from rag_pdf_parser_spark.plans.curate import TEXT_GATE_CODES

    summary_codes = {k for row in p.manifest_summary().collect()
                     for k in row["failure_codes"]}
    assert set(TEXT_GATE_CODES) <= summary_codes
    assert set(r["curation_drops"]) == set(TEXT_GATE_CODES)

    # only the curated winner reaches the sinks
    assert [row["url"] for row in p.read_docs().select("url").collect()] \
        == ["https://ok.example/a-ok"]
    # the gated docs' hashes were NOT registered (published-winner
    # invariant: a gated doc must not own a seen-hash slot)
    seen = spark.read.parquet(p.seen_path)
    assert seen.count() == 1

    # resume never re-gates: everything is settled in the manifest
    r2 = p.run(pages, run_id="r2", with_chunks=False, curate=True,
               dedupe=True)
    assert r2["docs_processed"] == 0 and r2["curation_drops"] == {}, r2
    assert spark.read.parquet(p.manifest_path).count() == len(texts)

    # committed output ≡ curate_corpus over the same extracted input
    # (no-dedup variants on both sides; url as the doc key)
    p2 = ExtractionPipeline(spark, str(tmp_path / "cur2"), partitions=2)
    p2.run(pages, run_id="r1", with_chunks=False, curate=True)
    got = sorted(row["url"] for row in p2.read_docs().select("url").collect())
    docs = extract_docs(pages, partitions=2) \
        .select("url", F.col("extracted_text").alias("text"))
    want = sorted(row["url"] for row in
                  curate_corpus(docs, id_col="url", text_col="text",
                                dedup=False).select("url").collect())
    assert got == want == ["https://ok.example/a-ok",
                           "https://ok.example/b-okdup"], (got, want)
