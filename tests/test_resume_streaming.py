"""Resume-from-manifest (north_rule lineage requirement), streaming parity,
multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from rag_pdf_parser_spark.operators.multimodal import image_features
from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline
from rag_pdf_parser_spark.sources.pages import synth_pages


def test_resume_no_double_processing(spark, tmp_path):
    """Kill-and-restart semantics: process half, then resume with the full
    input — resumed run must process ONLY the missing urls, and the final
    outputs equal an uninterrupted run (SURVEY §5.4)."""
    pages = synth_pages(spark, 80)
    half = pages.limit(40)

    out1 = str(tmp_path / "interrupted")
    p1 = ExtractionPipeline(spark, out1)
    r1 = p1.run(half, run_id="r1", with_chunks=False)
    assert r1["docs_processed"] == 40

    r2 = p1.run(pages, run_id="r2", with_chunks=False)
    assert r2["docs_processed"] == 40  # only the other half

    manifest = spark.read.parquet(p1.manifest_path)
    assert manifest.count() == 80
    assert manifest.select("url").distinct().count() == 80  # no url twice

    out2 = str(tmp_path / "clean")
    p2 = ExtractionPipeline(spark, out2)
    p2.run(pages, run_id="single", with_chunks=False)

    a = p1.read_docs().select("url", "doc_id", "extracted_text")
    b = p2.read_docs().select("url", "doc_id", "extracted_text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _read_schema(df):
    """The `ReadSchema` of the one file scan in `df`'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    (scan,) = plan.split("ReadSchema: ")[1:]
    return scan.split("\n")[0]


def test_crash_between_sinks_and_manifest_commit(spark, tmp_path):
    """r3 verdict #2: death AFTER the batch write but BEFORE the commit
    rename must not duplicate rows — it leaves nothing but the staging dir,
    which committed readers never look at, the rerun re-extracts every url
    the manifest never saw and deletes the dead staging dir, and the
    committed output equals an uninterrupted run EXACTLY."""
    pages = synth_pages(spark, 60)

    out = str(tmp_path / "crashy")
    p = ExtractionPipeline(spark, out)

    real_commit = p._commit

    def dying_commit(staging, batch_id):  # crash at the worst moment
        raise RuntimeError("simulated death before manifest commit")

    p._commit = dying_commit
    with pytest.raises(RuntimeError, match="simulated death"):
        p.run(pages, run_id="r1", with_chunks=True)

    # the crash left the staged batch only: committed views see none of it
    assert sorted(os.listdir(out)) == ["_staging"]
    (staged,) = os.listdir(os.path.join(out, "_staging"))
    assert spark.read.parquet(os.path.join(out, "_staging", staged)) \
        .where(F.col("doc_id").isNotNull()).count() == 60
    assert p.committed_batch_ids() == []
    assert p.read_docs().count() == 0

    # rerun (recovered process): manifest never saw the urls → full redo
    p._commit = real_commit
    r = p.run(pages, run_id="r1-retry", with_chunks=True)
    assert r["docs_processed"] == 60
    # the retry, holding the lease, reclaimed the crashed run's staging dir
    assert os.listdir(os.path.join(out, "_staging")) == []

    # committed readers see the retry batch ONLY — no duplicates anywhere
    docs = p.read_docs()
    assert docs.count() == 60
    assert docs.select("url").distinct().count() == 60
    chunks = p.read_chunks()
    assert chunks.count() == chunks.select("chunk_id").distinct().count()

    # committed output == an uninterrupted clean run, byte-for-byte
    clean = ExtractionPipeline(spark, str(tmp_path / "clean"))
    clean.run(pages, run_id="single", with_chunks=True)
    cols = ["url", "doc_id", "extracted_text"]
    a, b = docs.select(*cols), clean.read_docs().select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ca = p.read_chunks().select("chunk_id", "doc_id", "text")
    cb = clean.read_chunks().select("chunk_id", "doc_id", "text")
    assert ca.exceptAll(cb).count() == 0 and cb.exceptAll(ca).count() == 0

    # each view scans only the columns it shows: the docs view reads
    # neither nested array, the blocks view no chunks
    docs_rs, blocks_rs = _read_schema(p.read_docs()), _read_schema(
        p.read_blocks())
    assert "blocks:" not in docs_rs and "chunks:" not in docs_rs, docs_rs
    assert "blocks:" in blocks_rs and "chunks:" not in blocks_rs, blocks_rs
    assert "chunks:" in _read_schema(p.read_chunks())


def test_jsonl_export_is_a_write_of_the_committed_view(spark, tmp_path):
    """The reference's JSONL outputs (K2 blocks, K3 chunks) are a JSON
    write of the committed readers: two committed batches plus one orphan
    batch (death before the commit rename) export exactly the committed
    rows, and no chunk line carries the always-null `embedding`."""
    import glob
    import json

    pages = synth_pages(spark, 30)
    urls = sorted(r["url"] for r in pages.select("url").collect())
    p = ExtractionPipeline(spark, str(tmp_path / "out"))
    p.run(pages.where(F.col("url").isin(urls[:10])), run_id="r1")
    p.run(pages.where(F.col("url").isin(urls[10:20])), run_id="r2")

    def dying_commit(staging, batch_id):
        raise RuntimeError("simulated death before manifest commit")

    p._commit = dying_commit
    with pytest.raises(RuntimeError, match="simulated death"):
        p.run(pages, run_id="r3")
    assert len(p.committed_batch_ids()) == 2
    # the uncommitted batch's rows are on disk, in its staging dir
    (staged,) = os.listdir(os.path.join(p.out_dir, "_staging"))
    assert spark.read.parquet(os.path.join(p.out_dir, "_staging", staged)) \
        .where(F.col("doc_id").isNotNull()).count() == 10

    def lines(dest):
        out = []
        for part in sorted(glob.glob(os.path.join(dest, "part-*.json"))):
            with open(part, encoding="utf-8") as f:
                out += [json.loads(line) for line in f]
        return out

    blocks_out = str(tmp_path / "blocks_jsonl")
    chunks_out = str(tmp_path / "chunks_jsonl")
    p.read_blocks().write.json(blocks_out)
    p.read_chunks().write.json(chunks_out)
    blocks, chunks = lines(blocks_out), lines(chunks_out)

    want_blocks = sorted((r["doc_id"], r["block_id"], r["text"])
                         for r in p.read_blocks().collect())
    want_chunks = sorted((r["chunk_id"], r["doc_id"], r["text"])
                         for r in p.read_chunks().collect())
    assert sorted((b["doc_id"], b["block_id"], b.get("text"))
                  for b in blocks) == want_blocks
    assert sorted((c["chunk_id"], c["doc_id"], c["text"])
                  for c in chunks) == want_chunks
    assert {r["url"] for r in p.read_docs().collect()} == set(urls[:20])
    assert {b["url"] for b in blocks} <= set(urls[:20])  # no orphan row
    assert chunks and not any("embedding" in c for c in chunks)
    assert "embedding" in p.read_chunks().columns


def test_legacy_json_sink_batch_fails_the_committed_read(spark, tmp_path):
    """An out_dir whose batch an older version wrote as JSON
    (`fmt="json"`) is not migrated: the committed read raises instead of
    returning its batch as empty."""
    import json
    import shutil

    pages = synth_pages(spark, 5)
    p = ExtractionPipeline(spark, str(tmp_path / "legacy"))
    p.run(pages, run_id="r1", with_chunks=False)
    (batch,) = p.committed_batch_ids()
    rows = [r.asDict() for r in p.read_docs().select("url", "doc_id")
            .collect()]
    d = os.path.join(p.manifest_path, f"batch_id={batch}")
    shutil.rmtree(d)
    os.makedirs(d)
    with open(os.path.join(d, "part-00000-legacy.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    with pytest.raises(Exception, match="not a Parquet file"):
        p.read_docs().count()


@pytest.mark.parametrize("dedupe", [False, True])
def test_a_batch_that_repeats_a_url_commits_its_first_capture(
        spark, tmp_path, dedupe):
    """A page batch holding a url twice (a re-crawl with changed html and
    a later `warc_ts`) commits the url once, as its earlier capture, with
    or without the dedup gate and at any shuffle width: the salt stage
    keeps each url's first capture."""
    from rag_pdf_parser_spark.operators.extract import extract_docs

    pages = synth_pages(spark, 10)
    first = pages.orderBy("url").limit(2)
    recrawl = first.withColumns({
        "html": F.lit(b"<html><body><p>the page as re-crawled a day "
                      b"later</p></body></html>"),
        "warc_ts": F.col("warc_ts") + F.expr("INTERVAL 1 DAY")})
    once = ExtractionPipeline(spark, str(tmp_path / "once"))
    once.run(pages, run_id="once")
    want = {r["url"]: r["extracted_text"] for r in once.read_docs().collect()}
    # precondition: the later capture extracts to other text
    later = {r["url"]: r["extracted_text"]
             for r in extract_docs(recrawl).collect()}
    assert len(later) == 2 and all(later[u] != want[u] for u in later)
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    try:
        for n in (2, 11):
            spark.conf.set(key, str(n))
            p = ExtractionPipeline(spark, str(tmp_path / f"rep{n}"))
            # the re-crawl first in the input: arrival order decides nothing
            r = p.run(recrawl.unionByName(pages), run_id="r1",
                      dedupe=dedupe)
            assert r["docs_processed"] == 10, r
            m = p.read_manifest()
            assert m.count() == m.select("url").distinct().count() == 10
            got = {r["url"]: r["extracted_text"]
                   for r in p.read_docs().collect()}
            assert got == want
    finally:
        spark.conf.set(key, width)


def test_resume_raises_on_an_unreadable_manifest(spark, tmp_path):
    """A manifest Spark cannot read (here a stray non-`batch_id=` copy of a
    batch inside `manifest/`) fails the run. Read as "no resume state" it
    would re-extract and commit every url a second time."""
    import shutil

    pages = synth_pages(spark, 20)
    p = ExtractionPipeline(spark, str(tmp_path / "stray"))
    p.run(pages, run_id="r1", with_chunks=False)
    ids = p.committed_batch_ids()
    shutil.copytree(os.path.join(p.manifest_path, f"batch_id={ids[0]}"),
                    os.path.join(p.manifest_path, "backup"))
    with pytest.raises(Exception, match="(?i)conflicting directory"):
        p.run(pages, run_id="r2", with_chunks=False)
    assert p.committed_batch_ids() == ids
    # the committed views read the same table, so they raise too
    with pytest.raises(Exception, match="(?i)conflicting directory"):
        p.read_docs().count()


def test_views_before_the_first_commit_are_empty(spark, tmp_path):
    """On an out_dir no run has committed to, the docs, blocks and chunks
    views are empty frames with their usual columns, the manifest view is
    None, and reading them creates nothing."""
    from rag_pdf_parser_spark.schema import BLOCKS_FLAT_SCHEMA, CHUNKS_SCHEMA

    out = str(tmp_path / "fresh")
    p = ExtractionPipeline(spark, out)
    want = {
        p.read_docs: ["url", "doc_id", "charset", "failure_code", "title",
                      "authors", "parser_version", "n_pages",
                      "extracted_text", "bytes_in", "partition_id"],
        p.read_blocks: BLOCKS_FLAT_SCHEMA.names,
        p.read_chunks: CHUNKS_SCHEMA.names,
    }
    for view, cols in want.items():
        df = view()
        assert df.columns == cols and df.count() == 0
    assert p.read_manifest() is None
    assert not os.path.exists(out)


def _counting_jobs(spark, tag, fn):
    """`fn()`'s result and the number of Spark jobs it ran, counted by
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        r = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return r, len(sc.statusTracker().getJobIdsForGroup(tag))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_a_plain_run_writes_one_content_table(spark, tmp_path):
    """A plain `with_chunks=True` run over `synth_pages(300)` at local[4]
    takes at most 2 Spark jobs: the salt shuffle and the one write of the
    batch, content nested in its manifest rows, that also counts it."""
    p = ExtractionPipeline(spark, str(tmp_path / "plain"))
    r, jobs = _counting_jobs(spark, "plain", lambda: p.run(
        synth_pages(spark, 300), run_id="plain", with_chunks=True))
    assert r["docs_processed"] == 300, r
    assert jobs <= 2, jobs


def test_resume_with_nothing_pending_stops_at_the_probe(spark, tmp_path):
    """A resume (a manifest exists) probes `pending` once: with nothing
    pending the gated run takes at most 2 Spark jobs and commits nothing;
    with urls pending it takes 11 jobs. Jobs are counted by job group on
    `synth_pages(300)` at local[4]. A gated batch writes no more part
    files than the session's shuffle partitions: its blocked rows ride
    the extraction partitions."""
    blocked = spark.createDataFrame([("host1.example",)], "host string")
    p = ExtractionPipeline(spark, str(tmp_path / "probe"))

    def run(tag, n):
        return _counting_jobs(spark, tag, lambda: p.run(
            synth_pages(spark, n), run_id=tag, with_chunks=True,
            url_blocklist=blocked, curate=True, dedupe=True))

    run("probe-first", 200)
    r, jobs = run("probe-resume", 300)
    assert r["docs_processed"] + r["urls_blocked"] == 100, r
    assert jobs <= 11, jobs
    ids = p.committed_batch_ids()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for i in ids:
        files = [f for f in os.listdir(
            os.path.join(p.manifest_path, f"batch_id={i}"))
            if f.endswith(".parquet")]
        assert 0 < len(files) <= width, (i, files)
    r, jobs = run("probe-empty", 300)
    assert r == {"run_id": "probe-empty", "docs_processed": 0,
                 "duplicates_skipped": 0, "urls_blocked": 0,
                 "curation_drops": {}}, r
    assert jobs <= 2, jobs
    assert p.committed_batch_ids() == ids


def test_run_refuses_a_run_id_that_is_not_one_path_component(
        spark, tmp_path):
    """`run_id` names the batch's staging and manifest dirs, so one that is
    empty or holds a path separator is refused with ValueError before the
    lease: no Spark job runs and the out_dir gains no `_staging/` or
    `manifest/`."""
    out = str(tmp_path / "ids")
    p = ExtractionPipeline(spark, out)
    pages = synth_pages(spark, 20)
    for bad in ("", "nightly/2026-10-19", f"a{os.sep}b"):
        with pytest.raises(ValueError, match="path component"):
            _counting_jobs(spark, "bad-id", lambda: p.run(
                pages, run_id=bad, with_chunks=False))
        for d in ("_staging", "manifest", "_lock"):
            assert not os.path.exists(os.path.join(out, d)), d
    # the group's job ids include the refused calls'
    assert _counting_jobs(spark, "bad-id", lambda: None) == (None, 0)


def test_pipeline_url_gate_blocks_before_extraction(spark, tmp_path):
    """url_blocklist: blocked pages never reach the docs sink, are
    manifest-recorded as URL_BLOCKED (so resume skips them forever), and
    clean pages extract normally through the curation and dedup gates.
    An entry deeper than six labels blocks its subdomains too. A blocked
    page with NULL html is URL_BLOCKED, not EMPTY_HTML, with `bytes_in`
    0."""
    import random

    import pandas as pd

    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    def body(seed):  # 70 words: passes every curation gate
        rng = random.Random(seed)
        text = " ".join(f"{'abcdefghijklmnop'[rng.randrange(16)]}word{i}"
                        for i in range(70))
        return f"<html><body><p>{text}.</p></body></html>".encode()

    rows = [(f"https://sub{i}.spam.example/p/{i}", None, body(0), "", "en")
            for i in range(3)]
    rows.append(("https://sub3.spam.example/null", None, None, "", "en"))
    rows += [(f"https://ok.example/p/{i}", None, body(i), "", "en")
             for i in range(4)]
    deep = "a.b.c.d.e.f.g.example"                    # 8 labels
    rows.append((f"https://www.{deep}/p", None, body(0), "", "en"))
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    blocked = spark.createDataFrame([("spam.example",), (deep,)],
                                    "host string")
    gates = dict(with_chunks=False, url_blocklist=blocked, curate=True,
                 dedupe=True)

    p = ExtractionPipeline(spark, str(tmp_path / "ug"))
    r = p.run(pages, run_id="r1", **gates)
    assert r == {"run_id": "r1", "docs_processed": 4,
                 "duplicates_skipped": 0, "urls_blocked": 5,
                 "curation_drops": {}}, r

    docs = p.read_docs()
    assert docs.count() == 4
    assert docs.where(F.col("url").contains("spam")).count() == 0
    m = spark.read.parquet(p.manifest_path)
    blocked_rows = {r["url"]: r for r in m.where(
        F.col("failure_code") == "URL_BLOCKED").collect()}
    assert sorted(blocked_rows) == sorted(
        [f"https://sub{i}.spam.example/p/{i}" for i in range(3)]
        + ["https://sub3.spam.example/null", f"https://www.{deep}/p"])
    assert all(r["bytes_out"] == 0 and r["text_hash"] is None
               and r["doc_id"] is None for r in blocked_rows.values())
    null = blocked_rows.pop("https://sub3.spam.example/null")
    assert null["bytes_in"] == 0
    assert all(r["bytes_in"] > 0 for r in blocked_rows.values())

    # resume: nothing left to do — blocked urls are settled in the manifest
    r2 = p.run(pages, run_id="r2", **gates)
    assert r2["docs_processed"] == 0 and r2["urls_blocked"] == 0, r2
    assert spark.read.parquet(p.manifest_path).count() == 9

    # a first run that blocks every page commits a docs batch with no
    # file: the committed views read it as empty, where a schema inferred
    # from the sink's files raised
    q = ExtractionPipeline(spark, str(tmp_path / "all_blocked"))
    r = q.run(pages.where(F.col("url").contains("spam")), run_id="r1",
              with_chunks=False, url_blocklist=blocked)
    assert r["urls_blocked"] == 4 and r["docs_processed"] == 0, r
    assert q.read_docs().count() == q.read_blocks().count() \
        == q.read_chunks().count() == 0


def test_the_pipeline_plans_no_parallelism_probe(spark, tmp_path,
                                                 monkeypatch):
    """`run` always salts, so its curation stage reads an exchange and
    calls no `ensure_parallelism` (each call plans the partial plan);
    `flag_corpus` spreads its input once, before its text gates."""
    from rag_pdf_parser_spark.operators import spread
    from rag_pdf_parser_spark.plans.curate import flag_corpus

    calls = []
    real = spread.ensure_parallelism

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(spread, "ensure_parallelism", counting)
    r = ExtractionPipeline(spark, str(tmp_path / "spread")).run(
        synth_pages(spark, 20), run_id="r1", with_chunks=False, curate=True)
    assert r["docs_processed"] == 20, r
    assert len(calls) == 0
    flag_corpus(spark.createDataFrame(
        [("https://a.example/1", "some words")], "url string, text string"))
    assert len(calls) == 1


def test_manifest_summary_lineage(spark, tmp_path):
    pages = synth_pages(spark, 60)
    out = str(tmp_path / "lineage")
    p = ExtractionPipeline(spark, out)
    p.run(pages, run_id="r1", with_chunks=False)
    s = p.manifest_summary().collect()
    assert sum(r["urls_processed"] for r in s) == 60
    assert all(r["bytes_in"] > 0 for r in s if r["urls_processed"] > 0)
    codes = {k for r in s for k in r["failure_codes"]}
    assert "OK" in codes


def test_manifest_summary_recovers_a_half_swapped_manifest(spark, tmp_path):
    """`manifest_summary` reads through the manifest's crash recovery: after
    a compaction died between its two swap renames (manifest dir in the
    trash), the summary equals the one taken before. Before the first
    commit it is empty."""
    import shutil

    p = ExtractionPipeline(spark, str(tmp_path / "sum"))
    assert p.manifest_summary().collect() == []
    pages = synth_pages(spark, 40)
    p.run(pages.limit(20), run_id="r1", with_chunks=False)
    p.run(pages, run_id="r2", with_chunks=False)
    assert len(p.committed_batch_ids()) == 2

    def summary():
        return sorted((r["run_id"], r["partition_id"], r["urls_processed"],
                       r["bytes_in"], r["bytes_out"],
                       sorted(r["failure_codes"].items()))
                      for r in p.manifest_summary().collect())

    before = summary()
    shutil.move(p.manifest_path, p.manifest_path + ".__compact_trash")
    assert summary() == before
    assert sum(row[2] for row in before) == 40


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


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """The north-star pipeline as a checkpointed stream: page files →
    one `ExtractionPipeline.run` per micro-batch. The committed docs are
    byte-identical per url with the batch path (and transitively with the
    pure-Python kernel goldens)."""
    from rag_pdf_parser_spark.operators.extract import extract_docs
    from rag_pdf_parser_spark.streaming.pages import run_extraction_stream

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "docs_out")
    pages = synth_pages(spark, 120)
    # several files → several micro-batches at maxFilesPerTrigger=8
    pages.repartition(12).write.parquet(src)

    run_extraction_stream(spark, src, out, str(tmp_path / "ckpt"))
    p = ExtractionPipeline(spark, out)
    assert len(p.committed_batch_ids()) == 2
    got = {r["url"]: (r["doc_id"], r["extracted_text"])
           for r in p.read_docs().collect()}
    exp = {r["url"]: (r["doc_id"], r["extracted_text"])
           for r in extract_docs(pages).collect()}
    assert got == exp

    # resume: append new files, rerun — only the new urls are added, old
    # rows are not reprocessed (exactly-once via checkpoint)
    more = synth_pages(spark, 150).where(~F.col("url").isin(list(got)))
    more.repartition(3).write.mode("append").parquet(src)
    run_extraction_stream(spark, src, out, str(tmp_path / "ckpt"))
    after = p.read_docs()
    assert after.count() == 150
    assert after.select("url").distinct().count() == 150


def test_streaming_extraction_replay_commits_nothing(spark, tmp_path):
    """A fresh checkpoint replays every micro-batch over the same files:
    the manifest resume finds each url committed, so the rerun commits no
    batch, the committed docs are unchanged, and the manifest holds each
    url once."""
    from rag_pdf_parser_spark.streaming.pages import run_extraction_stream

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "docs_out")
    synth_pages(spark, 60).repartition(10).write.parquet(src)

    run_extraction_stream(spark, src, out, str(tmp_path / "ckpt1"))
    p = ExtractionPipeline(spark, out)
    ids = p.committed_batch_ids()
    cols = ["url", "doc_id", "extracted_text"]
    before = sorted(tuple(r) for r in p.read_docs().select(*cols).collect())
    assert len(before) == 60

    run_extraction_stream(spark, src, out, str(tmp_path / "ckpt2"))
    assert p.committed_batch_ids() == ids
    assert sorted(tuple(r) for r in
                  p.read_docs().select(*cols).collect()) == before
    m = p.read_manifest()
    assert m.count() == m.select("url").distinct().count() == 60


def test_stream_past_a_micro_batch_that_repeats_a_url(spark, tmp_path):
    """A page file holding a url twice (a later re-crawl with changed
    html) commits that url once, as its earlier capture, and the stream
    goes on: a clean file appended after it and a restart on the same
    checkpoint commit too — two batches, each url once."""
    from rag_pdf_parser_spark.operators.extract import extract_docs
    from rag_pdf_parser_spark.streaming.pages import run_extraction_stream

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "docs_out")
    pages = synth_pages(spark, 12)
    urls = sorted(r["url"] for r in pages.select("url").collect())
    head = pages.where(F.col("url").isin(urls[:6]))
    recrawl = head.where(F.col("url") == urls[0]).withColumns({
        "html": F.lit(b"<html><body><p>the page as re-crawled a day "
                      b"later</p></body></html>"),
        "warc_ts": F.col("warc_ts") + F.expr("INTERVAL 1 DAY")})
    head.unionByName(recrawl).coalesce(1).write.parquet(src)
    run_extraction_stream(spark, src, out, str(tmp_path / "ckpt"))
    pages.where(~F.col("url").isin(urls[:6])).coalesce(1) \
        .write.mode("append").parquet(src)
    run_extraction_stream(spark, src, out, str(tmp_path / "ckpt"))

    p = ExtractionPipeline(spark, out)
    assert len(p.committed_batch_ids()) == 2
    m = p.read_manifest()
    assert m.count() == m.select("url").distinct().count() == 12
    got = {r["url"]: r["extracted_text"] for r in p.read_docs().collect()}
    assert got == {r["url"]: r["extracted_text"]
                   for r in extract_docs(pages).collect()}


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

    # store invariant (shared with the incremental admit): the store rows
    # are exactly the (band, bucket, id, bp) rows of the emitted docs
    from rag_pdf_parser_spark.operators.dedup import lsh_buckets
    from rag_pdf_parser_spark.streaming.minhash import store_partition_expr
    cols = ["band", "bucket", "id", "bp"]
    want = sorted(tuple(r) for r in lsh_buckets(
        spark.read.parquet(out), num_perm=32, bands=8)
        .withColumn("bp", store_partition_expr(F.col("band"),
                                               F.col("bucket")))
        .select(*cols).collect())
    indexed = sorted(tuple(r) for r in
                     spark.read.parquet(seen).select(*cols).collect())
    assert indexed == want


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

    # the modulus is persisted with the store, and a store whose meta
    # records another modulus is probed and appended with THAT modulus:
    # pruning with the constant would read the wrong partitions and
    # re-admit seen duplicates (r4 review finding)
    from rag_pdf_parser_spark.streaming.minhash import (
        read_store_meta,
        write_store_meta,
    )
    meta = read_store_meta(seen)
    assert meta["store_partitions"] == STORE_PARTITIONS
    seen8, out8 = str(tmp_path / "seen8"), str(tmp_path / "out8")
    cfg = {k: v for k, v in meta.items() if k.startswith("lsh_")}
    write_store_meta(seen8, 8, extra=cfg)
    run_streaming_dedup(spark, str(src) + "/part*.parquet", sch, out8,
                        seen8, str(tmp_path / "ck8"))
    kept8 = spark.read.parquet(out8).orderBy("doc_id").first()
    spark.createDataFrame([(1000, kept8["text"])],
                          "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f2"))
    for i, f in enumerate(sorted(glob.glob(str(src / "f2" / "*.parquet")))):
        shutil.copy(f, src / f"part9{i}.parquet")
    run_streaming_dedup(spark, str(src) + "/part*.parquet", sch, out8,
                        seen8, str(tmp_path / "ck8"))
    assert spark.read.parquet(out8).where("doc_id = 1000").count() == 0
    assert read_store_meta(seen8)["store_partitions"] == 8
    store8 = spark.read.parquet(seen8)
    assert store8.where(
        F.col("bp") != store_partition_expr(F.col("band"), F.col("bucket"),
                                            8)).count() == 0
    assert store8.select("bp").distinct().count() > 1

    # the signature config is persisted too: a store built under another
    # config holds incomparable buckets and is rejected, not probed
    assert meta["lsh_num_perm"] == 32
    write_store_meta(seen, STORE_PARTITIONS, extra={"lsh_num_perm": 8})
    with pytest.raises(Exception, match="incomparable"):
        run_streaming_dedup(spark, str(src) + "/part*.parquet", sch,
                            str(tmp_path / "out3"), seen,
                            str(tmp_path / "ck3"))


def _stream_files(spark, src, batches):
    """Write each `(doc_id, text)` row list as one parquet file under
    `src`, with increasing mtimes so a maxFilesPerTrigger=1 stream reads
    them as micro-batches in list order; returns the glob and schema."""
    import glob
    import shutil
    import time

    schema = "doc_id string, text string"
    now = time.time()
    for k, rows in enumerate(batches):
        tmp = str(src / f"tmp{k}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        dst = src / f"part{k}.parquet"
        shutil.copy(glob.glob(tmp + "/*.parquet")[0], dst)
        os.utime(dst, (now - 100 + k, now - 100 + k))
    return str(src) + "/part*.parquet", spark.read.parquet(tmp).schema


def _page_texts(n):
    """`n` distinct extracted texts of synthetic pages: they share the
    site templates, so many pairs share an LSH band bucket, but no two
    are near-duplicates."""
    from rag_pdf_parser_spark.datagen import make_page
    from rag_pdf_parser_spark.kernel.htmlx import extract_document

    texts, i = [], 0
    while len(texts) < n:
        d = extract_document(make_page(i)["html"])
        t = d["extracted_text"]
        if d["failure_code"] is None and t and t not in texts:
            texts.append(t)
        i += 1
    return texts


def test_streaming_gate_keeps_distinct_template_docs(spark, tmp_path):
    """120 distinct pages that share templates, streamed as 2 files:
    every one is kept. A gate that drops any bucket collision without
    verifying it keeps a fraction of them."""
    from rag_pdf_parser_spark.streaming.minhash import run_streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    rows = [(f"p{i:03d}", t) for i, t in enumerate(_page_texts(120))]
    glob_, sch = _stream_files(spark, src, [rows[:60], rows[60:]])
    out = str(tmp_path / "out")
    run_streaming_dedup(spark, glob_, sch, out, str(tmp_path / "seen"),
                        str(tmp_path / "ck"))
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [r[0] for r in rows], len(kept)


def test_streaming_gate_equals_incremental_admit(spark, tmp_path):
    """The stream admits exactly what `dedup_corpus_incremental` admits
    over the same micro-batches in order, on a corpus with exact copies
    and one-word-edited copies within and across batches."""
    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental
    from rag_pdf_parser_spark.streaming.minhash import run_streaming_dedup

    base = [(f"b{i:03d}", t[:600]) for i, t in enumerate(_page_texts(40))]

    def edited(text, k):
        words = text.split(" ")
        words[k % len(words)] = "zzedited"
        return " ".join(words)

    batches = [
        base[:20] + [("x001", base[3][1]), ("n001", edited(base[5][1], 7))],
        base[20:35] + [("x002", base[10][1]), ("n002", edited(base[0][1], 3)),
                       ("n003", edited(base[25][1], 11))],
        base[35:] + [("x003", base[30][1]), ("n004", edited(base[36][1], 5)),
                     ("n005", edited(base[14][1], 9))],
    ]
    src = tmp_path / "src"
    src.mkdir()
    glob_, sch = _stream_files(spark, src, batches)
    s_root, a_root = tmp_path / "stream", tmp_path / "admit"
    run_streaming_dedup(spark, glob_, sch, str(s_root / "out"),
                        str(s_root / "seen"), str(tmp_path / "ck"))
    for rows in batches:
        dedup_corpus_incremental(
            spark.createDataFrame(rows, "doc_id string, text string"),
            str(a_root / "seen"), str(a_root / "out"))

    def ids(root):
        return sorted(r["doc_id"] for r in
                      spark.read.parquet(str(root / "out")).collect())

    assert ids(s_root) == ids(a_root)
    # every copy is caught and every distinct page is kept
    assert ids(s_root) == [b[0] for b in base], ids(s_root)


def test_compaction_merge_equivalent(spark, tmp_path):
    """plans.maintenance: an append-duplicated LSH store is rewritten to
    one row per whole row with the bp partition layout and meta preserved;
    the swap is atomic with crash recovery (trash-dir rename-back)."""
    from rag_pdf_parser_spark.plans.maintenance import (
        compact_lsh_store,
        recover_store,
    )
    from rag_pdf_parser_spark.streaming.minhash import (
        read_store_meta,
        store_partition_expr,
        write_store_meta,
    )

    # LSH store: duplicate bucket rows, bp layout must survive compaction
    lsh_path = str(tmp_path / "lsh")
    b = spark.createDataFrame(
        [(i % 4, f"bucket{i % 6}") for i in range(24)],
        "band int, bucket string").withColumn(
        "bp", store_partition_expr(F.col("band"), F.col("bucket")))
    b.write.mode("append").partitionBy("bp").parquet(lsh_path)
    b.write.mode("append").partitionBy("bp").parquet(lsh_path)
    write_store_meta(lsh_path, 64)
    stats = compact_lsh_store(spark, lsh_path)
    # (i%4, bucket{i%6}) cycles with period 12 → 12 distinct keys of 48 rows
    assert stats["rows_before"] == 48 and stats["rows_after"] == 12, stats
    assert stats["files_after"] <= stats["files_before"]
    assert any(d.startswith("bp=") for d in os.listdir(lsh_path))
    # the persisted modulus RIDES the atomic swap (copied into the tmp dir
    # before the commit rename — a crash at any point leaves either the old
    # store+meta or the new store+meta, never a meta-less store)
    assert read_store_meta(lsh_path)["store_partitions"] == 64

    # crash recovery: simulate death between the two swap renames
    import shutil as sh
    sh.move(lsh_path, lsh_path + ".__compact_trash")
    assert recover_store(lsh_path) is True
    assert spark.read.parquet(lsh_path).count() == 12
    assert read_store_meta(lsh_path)["store_partitions"] == 64
    assert recover_store(lsh_path) is False  # idempotent


def _same_body_pages(spark, *urls):
    """One page per url, every page with the same html body."""
    import pandas as pd

    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    body = b"<html><body><p>the very same page body every run</p></body></html>"
    return spark.createDataFrame(
        pd.DataFrame([(u, None, body, "", "en") for u in urls],
                     columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)


def test_pipeline_recovers_half_swapped_dedup_log(spark, tmp_path):
    """A manifest compaction crash between the two swap renames leaves the
    manifest — and with it the dedup log — in the trash dir; the next
    dedupe run must RESTORE it (not see an empty history and pass known
    duplicates)."""
    import shutil as sh

    out = str(tmp_path / "rec")
    pipe = ExtractionPipeline(spark, out)
    pipe.run(_same_body_pages(spark, "https://a.example/1"), run_id="r1",
             with_chunks=False, dedupe=True)
    assert pipe.read_manifest().where(
        F.col("text_hash").isNotNull()).count() == 1

    # simulate the compaction half-swap crash
    sh.move(pipe.manifest_path, pipe.manifest_path + ".__compact_trash")

    # same CONTENT, new url
    r = pipe.run(_same_body_pages(spark, "https://b.example/2"), run_id="r2",
                 with_chunks=False, dedupe=True)
    # without recovery this would be 0 (no history) — the duplicate must
    # still be recognized via the RESTORED manifest
    assert r["duplicates_skipped"] == 1, r


def test_dedup_log_commits_with_the_batch(spark, tmp_path):
    """The hashes a run publishes are durable in the commit rename itself:
    a run that dies right after its commit still flags, on the next run,
    a same-content page under a new url."""
    out = str(tmp_path / "seam")
    pipe = ExtractionPipeline(spark, out)
    real_commit = pipe._commit

    def commit_then_die(staging, batch_id):
        real_commit(staging, batch_id)
        raise RuntimeError("killed after the commit rename")

    pipe._commit = commit_then_die
    with pytest.raises(RuntimeError, match="after the commit"):
        pipe.run(_same_body_pages(spark, "https://a.example/1"),
                 run_id="r1", with_chunks=False, dedupe=True)
    assert len(pipe.committed_batch_ids()) == 1

    r = ExtractionPipeline(spark, out).run(
        _same_body_pages(spark, "https://b.example/2"), run_id="r2",
        with_chunks=False, dedupe=True)
    assert r["duplicates_skipped"] == 1, r


def test_compact_output_keeps_the_dedup_log(spark, tmp_path):
    """`compact_output` folds the dedup history with the commit log: after
    two dedupe runs and a compaction, a third run still flags a copy of a
    doc from the first batch. A committed batch written before the
    manifest had `text_hash` (its files lack the column, and it lists
    first) must not make the fold drop the column."""
    from rag_pdf_parser_spark.plans.maintenance import compact_output

    out = str(tmp_path / "cdl")
    pipe = ExtractionPipeline(spark, out)
    pipe.run(_same_body_pages(spark, "https://a.example/1"), run_id="r1",
             with_chunks=False, dedupe=True)
    pipe.run(synth_pages(spark, 6), run_id="r2", with_chunks=False,
             dedupe=True)
    spark.createDataFrame(
        [("r0", 0, "https://old.example/x", 10, 0, "URL_BLOCKED")],
        "run_id string, partition_id int, url string, bytes_in long, "
        "bytes_out long, failure_code string").write.parquet(
        os.path.join(pipe.manifest_path, "batch_id=a-legacy"))
    hashes = sorted(r["text_hash"] for r in pipe.read_manifest()
                    .where(F.col("text_hash").isNotNull()).collect())
    assert len(hashes) == 7, hashes
    assert compact_output(spark, out)["batches_after"] == 1
    after = pipe.read_manifest()
    assert after.count() == 8
    assert sorted(r["text_hash"] for r in
                  after.where(F.col("text_hash").isNotNull()).collect()) \
        == hashes

    r = pipe.run(_same_body_pages(spark, "https://c.example/3"), run_id="r3",
                 with_chunks=False, dedupe=True)
    assert r["docs_processed"] == 1 and r["duplicates_skipped"] == 1, r


def test_out_dir_is_one_content_table_and_refuses_older_layouts(
        spark, tmp_path):
    """The manifest is the one table, content and dedup log included: a
    gated `with_chunks=True` run leaves `manifest` and an empty `_staging`
    (the lease is gone once it returns). An out_dir an older layout wrote
    — it holds `docs/`, `blocks/`, `chunks/` or `seen_hashes/` — is
    refused by `run`, the committed readers and `compact_output` before
    any of them writes; a refused `run` leaves a dead run's staging dir in
    place, because the refusal comes before its reclaim."""
    from rag_pdf_parser_spark.plans.maintenance import compact_output

    blocked = spark.createDataFrame([("nowhere.example",)], "host string")
    out = str(tmp_path / "layout")
    p = ExtractionPipeline(spark, out)
    r = p.run(synth_pages(spark, 8), run_id="r1", with_chunks=True,
              url_blocklist=blocked, curate=True, dedupe=True)
    assert r["docs_processed"] == 8, r
    assert os.listdir(os.path.join(out, "_staging")) == []
    assert sorted(os.listdir(out)) == ["_staging", "manifest"], \
        os.listdir(out)

    ids = sorted(os.listdir(p.manifest_path))
    # a dead run's staging dir: a refused run must delete nothing
    dead = os.path.join(out, "_staging", "dead-run")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "wb") as f:
        f.write(b"dead")
    for old in ("docs", "blocks", "chunks", "seen_hashes"):
        # an older out_dir: committed state plus the old layout's dir
        os.makedirs(os.path.join(out, old))
        for refused in (
                lambda: p.run(synth_pages(spark, 12), run_id="r2",
                              with_chunks=False, dedupe=True),
                p.read_docs, p.read_blocks, p.read_chunks,
                p.committed_batch_ids,
                lambda: compact_output(spark, out)):
            with pytest.raises(ValueError, match="older layout"):
                refused()
            assert sorted(os.listdir(out)) == sorted(
                ["_staging", "manifest", old])
            assert sorted(os.listdir(p.manifest_path)) == ids
            assert os.listdir(os.path.join(out, "_staging")) == ["dead-run"]
            assert os.listdir(dead) == ["part-0.parquet"]
            assert os.listdir(os.path.join(out, old)) == []
        os.rmdir(os.path.join(out, old))


def test_streaming_rejects_legacy_flat_store(spark, tmp_path):
    """A pre-bp-layout store (root parquet files, no partitions, no meta)
    must be rejected loudly by the gate and the incremental admit —
    treating it as empty would re-admit every seen duplicate, then corrupt
    the layout by appending partitions."""
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
    # the incremental admit shares the store's open path: same refusal
    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental
    docs = spark.read.parquet(str(src / "f1"))
    with pytest.raises(ValueError, match="FLAT layout"):
        dedup_corpus_incremental(docs, seen, str(tmp_path / "canon"))


def test_writer_lease_mutual_exclusion(spark, tmp_path):
    """r4 verdict #3: two pipelines on one out_dir could both pass the
    resume anti-join for the same urls and commit duplicates. The writer
    lease makes the second run fail LOUDLY at start; a stolen-stale lease
    aborts at the commit point, not after it."""
    from rag_pdf_parser_spark.plans.lease import LeaseHeldError, WriterLease
    from rag_pdf_parser_spark.plans.maintenance import compact_output

    out = str(tmp_path / "lease")
    pages = synth_pages(spark, 12)
    p = ExtractionPipeline(spark, out)

    # a held lease blocks a new run — and nothing gets committed
    holder = WriterLease(out).acquire()
    with pytest.raises(LeaseHeldError, match="held by another run"):
        p.run(pages, run_id="r-blocked", with_chunks=False)
    assert p.committed_batch_ids() == []
    # ... and blocks maintenance of the same out_dir (#9)
    with pytest.raises(LeaseHeldError):
        compact_output(spark, out)
    holder.release()

    # released → run proceeds, and releases its own lease afterwards
    r = p.run(pages.limit(6), run_id="r1", with_chunks=False)
    assert r["docs_processed"] == 6
    assert not os.path.exists(os.path.join(out, "_lock"))
    r = p.run(pages, run_id="r2", with_chunks=False)
    assert r["docs_processed"] == 6
    assert compact_output(spark, out)["batches_after"] == 1
    assert p.read_docs().count() == 12

    # stale takeover: a crashed writer's old lock is stolen after
    # STALE_SEC; the displaced writer must fail its commit-point check
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
    p1 = ExtractionPipeline(spark, out)
    p2 = ExtractionPipeline(spark, out)
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
    p = ExtractionPipeline(spark, out)
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
    # the fold left the one table and no swap dir behind
    assert sorted(os.listdir(out)) == ["_staging", "manifest"]
    # resume is still exact over the folded manifest, and a run with
    # nothing pending commits no batch
    r = p.run(pages, run_id="r3", with_chunks=True)
    assert r["docs_processed"] == 0
    assert len(p.committed_batch_ids()) == 1, p.committed_batch_ids()
    # re-compaction of the one base batch is a no-op
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


def test_mixed_width_batches_read_and_fold(spark, tmp_path):
    """A `with_chunks=False` batch (the stream's shape) then a
    `with_chunks=True` batch in one docs table: `read_chunks()` holds
    exactly the second batch's chunks, `read_blocks()` both batches'
    blocks, and `read_docs()` keeps its columns — before and after
    `compact_output` folds the two. The narrow batch's files list first
    (its run id sorts first), so a schema inferred from one file would
    drop `chunks` from the read or from the fold."""
    from rag_pdf_parser_spark.operators.extract import (explode_blocks,
                                                        explode_chunks,
                                                        extract_docs)
    from rag_pdf_parser_spark.plans.maintenance import compact_output

    pages = synth_pages(spark, 20)
    urls = sorted(r["url"] for r in pages.select("url").collect())
    narrow = pages.where(F.col("url").isin(urls[:10]))
    wide = pages.where(F.col("url").isin(urls[10:]))
    p = ExtractionPipeline(spark, str(tmp_path / "mixed"))
    p.run(narrow, run_id="a-narrow", with_chunks=False)
    p.run(wide, run_id="b-wide", with_chunks=True)

    def keys(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    want_chunks = keys(explode_chunks(extract_docs(wide, chunks=True)),
                       "chunk_id", "doc_id", "text")
    want_blocks = keys(explode_blocks(extract_docs(pages, chunks=False)),
                       "url", "block_id", "text")
    assert want_chunks and len(want_blocks) > len(want_chunks)
    docs_cols = ["url", "doc_id", "charset", "failure_code", "title",
                 "authors", "parser_version", "n_pages", "extracted_text",
                 "bytes_in", "partition_id"]

    def check():
        assert p.read_docs().columns == docs_cols
        assert keys(p.read_chunks(), "chunk_id", "doc_id", "text") \
            == want_chunks
        assert keys(p.read_blocks(), "url", "block_id", "text") \
            == want_blocks

    check()
    assert compact_output(spark, p.out_dir)["batches_after"] == 1
    check()


def test_a_run_reclaims_dead_staging_dirs(spark, tmp_path):
    """The writer lease proves a staged batch dead: a run holding it is
    the out_dir's only writer, so every dir under `_staging/` belongs to a
    run that died before its commit rename. A resume with nothing pending
    deletes it too, and the committed rows stay as they were. A stray
    plain file there (a `.DS_Store`) is deleted as well, not raised on."""
    import glob
    import shutil

    out = str(tmp_path / "v")
    p = ExtractionPipeline(spark, out)
    pages = synth_pages(spark, 5)
    p.run(pages, run_id="r1", with_chunks=False)
    cols = ["url", "doc_id", "extracted_text"]
    before = sorted(p.read_docs().select(*cols).collect())
    ids = p.committed_batch_ids()

    # a dead run's staged batch: a copy of committed rows, so a reader
    # that looked at `_staging/` would double them
    dead = os.path.join(out, "_staging", "dead-run")
    os.makedirs(dead)
    part = glob.glob(os.path.join(p.manifest_path, "*", "*.parquet"))[0]
    shutil.copy(part, os.path.join(dead, "part-0.parquet"))
    with open(os.path.join(out, "_staging", ".DS_Store"), "wb") as f:
        f.write(b"\0")

    r = p.run(pages, run_id="r2", with_chunks=False)
    assert r["docs_processed"] == 0, r
    assert os.listdir(os.path.join(out, "_staging")) == []
    assert p.committed_batch_ids() == ids
    assert sorted(p.read_docs().select(*cols).collect()) == before


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
                                          bin_width_sec=600).collect()}
        assert got == {1: 7}, got

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
                                          bin_width_sec=900).collect()}
        assert got == {1: 7}, got

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
                                          bin_width_sec=900).collect()}
        assert got == {1: 7}, got

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
    p = ExtractionPipeline(spark, str(tmp_path / "f"))
    r = p.run(pages, run_id="r1", with_chunks=False, dedupe=True)
    assert r["duplicates_skipped"] == 0, r
    m = p.read_manifest()
    assert m.where(F.col("failure_code") == "DUPLICATE").count() == 0
    # only the real doc's hash registered
    assert [r["url"] for r in m.where(F.col("text_hash").isNotNull())
            .collect()] == ["https://f.example/ok"]


def test_pipeline_dedupe_gate(spark, tmp_path):
    """dedupe=True: within-run content duplicates and cross-run duplicates
    (via the committed manifest's `text_hash`) are skipped from the content
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
    p = ExtractionPipeline(spark, out)
    r1 = p.run(pages1, run_id="r1", with_chunks=False, dedupe=True)
    # 3 copies of `body` → 1 kept; 2 copies of `other` → 1 kept
    assert r1["docs_processed"] == 5 and r1["duplicates_skipped"] == 3, r1
    docs = p.read_docs()
    assert docs.count() == 2
    m = p.read_manifest()
    assert m.where(F.col("failure_code") == "DUPLICATE").count() == 3
    # each content's min url publishes its hash; no other row carries one
    assert sorted(r["url"] for r in m.where(F.col("text_hash").isNotNull())
                  .collect()) == ["https://a.example/0", "https://a.example/3"]

    # cross-run: a NEW url with previously-seen content is dropped via the
    # manifest's text_hash; a genuinely new page passes
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
    assert p.read_docs().count() == 3
    # all 7 urls in the manifest exactly once → nothing re-extracts
    m2 = p.read_manifest()
    assert m2.count() == 7 and m2.select("url").distinct().count() == 7
    assert m2.where(F.col("text_hash").isNotNull()).count() == 3


def _capture_writes(monkeypatch, df):
    """A list that collects the DataFrame of every `.write...parquet(`
    call from here on."""
    written = []
    writer = type(df.write)
    real = writer.parquet

    def capture(self, *a, **kw):
        written.append(self._df)
        return real(self, *a, **kw)

    monkeypatch.setattr(writer, "parquet", capture)
    return written


def test_dedupe_gate_runs_each_python_stage_once(spark, tmp_path,
                                                 monkeypatch):
    """The gated batch's executed plan (`curate=True, dedupe=True`) holds
    each Python stage once: one extraction `MapInArrow`, one for the
    repetition kernel. The in-batch winner is a window over the hash, not
    a groupBy joined back — that self-join ran the stages below it twice."""
    from rag_pdf_parser_spark.operators.spread import plan_nodes

    pages = synth_pages(spark, 40)
    written = _capture_writes(monkeypatch, pages)
    r = ExtractionPipeline(spark, str(tmp_path / "once")).run(
        pages, run_id="r1", with_chunks=True, curate=True,
        dedupe=True)
    assert r["docs_processed"] == 40, r
    [batch] = written
    # the node's own line, not its subtree: "MapInArrow <kernel>(...)"
    arrow = [n.simpleString(4) for n in plan_nodes(batch)
             if n.nodeName() == "MapInArrow"]
    assert len([a for a in arrow if a.startswith("MapInArrow extract(")]) \
        == 1, arrow
    assert len(arrow) == 2, arrow


def test_a_gated_run_shuffles_the_pages_once(spark, tmp_path,
                                             monkeypatch):
    """A gated run's executed plan is one pass over the pages: one salt
    exchange on `xxhash64(url)`, read once (no `ReusedExchange` over it),
    one first-capture `row_number` window riding it, one broadcast probe
    per blocklist depth, and no `Union` — blocked rows cross the
    extraction stage instead of joining the batch from a second branch."""
    from rag_pdf_parser_spark.operators.spread import plan_nodes

    def cls(name):
        return spark._jvm.Class.forName("org.apache.spark.sql." + name)

    shuffle = cls("execution.exchange.ShuffleExchangeExec")
    reused = cls("execution.exchange.ReusedExchangeExec")
    window = cls("execution.window.WindowExec")
    row_number = cls("catalyst.expressions.RowNumber")
    xxhash = cls("catalyst.expressions.XxHash64")

    pages = synth_pages(spark, 40)
    written = _capture_writes(monkeypatch, pages)
    depths = ["host1.example", "a.b.c.d.e.f.g.example"]   # 2 and 8 labels
    blocked = spark.createDataFrame([(h,) for h in depths], "host string")
    r = ExtractionPipeline(spark, str(tmp_path / "salt")).run(
        pages, run_id="r1", with_chunks=True, url_blocklist=blocked,
        curate=True, dedupe=True)
    assert r["urls_blocked"] > 0 and r["docs_processed"] > 0, r
    [batch] = written
    batch.collect()  # run it, so the plan shows any AQE exchange reuse
    nodes = list(plan_nodes(batch))

    def pages_shuffle(n):
        return shuffle.isInstance(n) and "html" in [
            a.name() for a in _seq(n.output())]

    salts = [n for n in nodes if pages_shuffle(n)]
    assert len(salts) == 1, [n.simpleString(2) for n in salts]
    (part,) = _seq(salts[0].outputPartitioning().expressions())
    assert xxhash.isInstance(part)
    assert not [n for n in nodes if reused.isInstance(n)
                and pages_shuffle(n.child())]
    firsts = [n for n in nodes if window.isInstance(n) and any(
        row_number.isInstance(e.child().windowFunction())
        for e in _seq(n.windowExpression()))]
    assert len(firsts) == 1, [n.simpleString(2) for n in firsts]
    probes = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
    assert len(probes) == len(depths), [n.simpleString(2) for n in probes]
    assert not [n for n in nodes if n.nodeName() == "Union"]


def _seq(s):
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


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


def test_pipeline_curate_stage(spark, tmp_path):
    """r5 verdict #3: the `curate=` pipeline stage — text-quality gates
    wired into the resumable run. Per-gate manifest accounting sums to the
    input; a gated doc never reaches the docs sink, never owns a
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

    p = ExtractionPipeline(spark, str(tmp_path / "cur"))
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
    assert [row["url"] for row in p.read_manifest()
            .where(F.col("text_hash").isNotNull()).collect()] \
        == ["https://ok.example/a-ok"]

    # resume never re-gates: everything is settled in the manifest
    r2 = p.run(pages, run_id="r2", with_chunks=False, curate=True,
               dedupe=True)
    assert r2["docs_processed"] == 0 and r2["curation_drops"] == {}, r2
    assert spark.read.parquet(p.manifest_path).count() == len(texts)

    # committed output ≡ curate_corpus over the same extracted input
    # (no-dedup variants on both sides; url as the doc key)
    p2 = ExtractionPipeline(spark, str(tmp_path / "cur2"))
    p2.run(pages, run_id="r1", with_chunks=False, curate=True)
    got = sorted(row["url"] for row in p2.read_docs().select("url").collect())
    docs = extract_docs(pages) \
        .select("url", F.col("extracted_text").alias("text"))
    want = sorted(row["url"] for row in
                  curate_corpus(docs, id_col="url", text_col="text",
                                dedup=False).select("url").collect())
    assert got == want == ["https://ok.example/a-ok",
                           "https://ok.example/b-okdup"], (got, want)


def test_pipeline_counts_match_committed_manifest(spark, tmp_path):
    """All three gates plus a kernel failure in one run: the returned
    counts equal the code counts of the batch's committed manifest rows,
    the sinks hold exactly the docs no gate coded (the EMPTY_HTML doc
    included), the manifest's `text_hash` holds only the OK docs' hashes,
    and a resume run reports all zeros."""
    import random

    import pandas as pd

    from rag_pdf_parser_spark.functions import normalized_text_hash_expr
    from rag_pdf_parser_spark.plans.curate import TEXT_GATE_CODES
    from rag_pdf_parser_spark.schema import PAGES_SCHEMA

    def good(seed):
        rng = random.Random(seed)
        return " ".join(f"{'abcdefghijklmnop'[rng.randrange(16)]}word{i}"
                        for i in range(70)) + "."

    def html(text):
        return f"<html><body><p>{text}</p></body></html>".encode()

    rows = [("https://ok.example/a", html(good(0))),
            ("https://ok.example/b", html(good(0))),      # exact dup of a
            ("https://ok.example/c", html(good(1))),
            ("https://ok.example/d", html("too short")),  # GOPHER_DROP
            ("https://ok.example/e", b""),                # EMPTY_HTML
            ("https://spam.example/f", html(good(2))),    # URL_BLOCKED
            ("https://sub.spam.example/g", html(good(3)))]
    pages = spark.createDataFrame(
        pd.DataFrame([(u, None, h, "", "en") for u, h in rows],
                     columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)
    blocked = spark.createDataFrame([("spam.example",)], "host string")
    p = ExtractionPipeline(spark, str(tmp_path / "all"))

    def run(run_id):
        return p.run(pages, run_id=run_id, with_chunks=True,
                     url_blocklist=blocked, curate=True, dedupe=True)

    r = run("r1")
    [batch] = p.committed_batch_ids()
    m = p.read_manifest().where(F.col("batch_id") == batch)
    codes = {row["failure_code"]: row["count"]
             for row in m.groupBy("failure_code").count().collect()}
    assert r == {
        "run_id": "r1",
        "docs_processed": sum(codes.values()) - codes["URL_BLOCKED"],
        "duplicates_skipped": codes["DUPLICATE"],
        "urls_blocked": codes["URL_BLOCKED"],
        "curation_drops": {c: codes[c] for c in TEXT_GATE_CODES
                           if c in codes},
    }, (r, codes)
    assert (codes["URL_BLOCKED"], codes["DUPLICATE"], codes["EMPTY_HTML"],
            r["docs_processed"]) == (2, 1, 1, 5), codes
    assert r["curation_drops"].get("GOPHER_DROP") == 1, r

    # the sinks hold exactly the uncoded docs: OK plus kernel failures
    uncoded = {row["url"] for row in m.where(
        F.col("failure_code").isNull()
        | (F.col("failure_code") == "EMPTY_HTML")).collect()}
    docs = p.read_docs()
    assert {row["url"] for row in docs.collect()} == uncoded
    assert "https://ok.example/e" in uncoded
    assert "https://ok.example/a" in uncoded
    doc_ids = {row["doc_id"] for row in docs.collect()}
    assert {row["doc_id"] for row in p.read_chunks().collect()} <= doc_ids

    # only the OK docs' hashes are registered
    ok_hashes = {row["h"] for row in docs.where(
        F.col("failure_code").isNull()).select(
        normalized_text_hash_expr(F.col("extracted_text")).alias("h"))
        .collect()}
    seen = [row["text_hash"] for row in
            m.where(F.col("text_hash").isNotNull()).collect()]
    assert sorted(seen) == sorted(ok_hashes) and ok_hashes, (seen, ok_hashes)

    assert run("r2") == {"run_id": "r2", "docs_processed": 0,
                         "duplicates_skipped": 0, "urls_blocked": 0,
                         "curation_drops": {}}
