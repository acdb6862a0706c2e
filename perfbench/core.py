"""Benchmark body: one workload per process, closed loop, one client.

Run through `perfbench/run.py`, which sizes the Spark session to the host
and sets the environment this module relies on. Each workload builds its
inputs from `--seed`, sets up (session, inputs, pristine state, untimed
warm-up), then repeats

    restore pristine state (untimed) -> op (timed) -> check outputs (untimed)

until `--seconds` have passed. The last stdout line is the JSON result.

`--trace 0` reports the end-to-end metrics. `--trace 1` runs a few
untraced ops, then traced ops: the op itself under an `op` span whose
children are the Spark jobs it ran, followed by a replay of the op's
layers on the same inputs, each layer a span around the benchmark's own
call into that module's public function.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time

from tracing import (COUNTERS, RssSampler, Tracer, self_time,
                     tree_cpu_seconds)

# span names that carry engine counters in the traced output (the op span
# is `op` in every workload)
COUNTER_SPANS = ("sources.load", "op", "pipeline.pending", "extract.stage",
                 "extract.serde_floor", "curate.gates", "dedup.seen_probe",
                 "dedup.register", "dedup.exact", "dedup.lsh", "dedup.verify",
                 "dedup.components", "dedup.canonical")

LAYER_METRICS = (
    "session.start_s", "sources.load_s",
    "kernel.extract_us_per_doc", "kernel.chunk_us_per_doc",
    "kernel.failure_share",
    "extract.stage_s", "extract.serde_floor_s",
    "pipeline.pending_s", "pipeline.pending_rows", "pipeline.jobs",
    "pipeline.files_written", "pipeline.bytes_written",
    "pipeline.sinks_commit_s",
    "curate.gates_s", "curate.drops",
    "dedup.seen_probe_s", "dedup.register_s", "dedup.gate_dups",
    "dedup.exact_s", "dedup.lsh_s", "dedup.candidate_pairs",
    "dedup.verify_s", "dedup.verified_pairs", "dedup.verify_yield",
    "dedup.components_s", "dedup.canonical_s", "dedup.store_rest_s",
    "dedup.store_files",
    "unattributed_s", "trace.untraced_op_s", "trace.traced_op_s",
    "trace.overhead_s",
)

UNITS = {"_s": "s", "_us_per_doc": "us", "_bytes": "bytes",
         "bytes_written": "bytes", "_share": "ratio", "_yield": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def all_layer_metrics() -> list[str]:
    return list(LAYER_METRICS) + [f"{s}.{c}" for s in COUNTER_SPANS
                                  for c in COUNTERS]


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def noop(df) -> None:
    """Materialize every column of `df` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


# -- workloads ----------------------------------------------------------------

class Workload:
    """One workload: `load` makes inputs from the seed, `prepare` builds
    the state each op starts from and warms the op's code path, `restore`
    resets that state, `op` is the timed user call, `check` its
    correctness gate, `replay` runs its layers one span each and
    `op_metrics` reads the per-op layer metrics off the traced op."""

    #: layers whose replayed times add up to the op, apart from a
    #: remainder the workload names in `op_metrics`
    parts: tuple[str, ...] = ()

    def __init__(self, spark, tracer: Tracer, work: str, seed: int,
                 size: str) -> None:
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.size = seed, size
        self.sp = int(spark.conf.get("spark.sql.shuffle.partitions"))


class CrawlFresh(Workload):
    """A fresh crawl: the op runs `ExtractionPipeline.run(with_chunks=True)`
    over every page into an empty output directory, so the kernel, the
    Arrow extract stage and the sink writes do the work."""

    name = "crawl_fresh"
    #: replayed layers that partition the op; the rest of the op wall is
    #: the sinks and the commit (`pipeline.sinks_commit_s`)
    parts = ("pipeline.pending", "extract.stage")
    #: share (percent) of pages re-emitted verbatim under a mirror url
    DUP_PCT = 10
    N_PAGES = {"full": 2500, "tiny": 200}

    def load(self) -> None:
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.sources.pages import (read_pages,
                                                         synth_pages_dist)

        path = os.path.join(self.work, "pages")
        synth_pages_dist(self.spark, self.N_PAGES[self.size], seed=self.seed) \
            .write.mode("overwrite").parquet(path)
        orig = read_pages(self.spark, path)
        # exact-duplicate pages: the same html under another url
        dups = orig.where(
            F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(100))
            < self.DUP_PCT
        ).withColumn("url", F.regexp_replace("url", "^https://",
                                             "https://mirror."))
        dups.localCheckpoint(eager=True).write.mode("append").parquet(path)
        self.pages = read_pages(self.spark, path)
        agg = self.pages.selectExpr("count(*) AS n",
                                    "sum(length(html)) AS b").first()
        self.n_pages, self.in_bytes = agg["n"], agg["b"]
        self.live = os.path.join(self.work, "out")

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)

    def prepare(self) -> None:
        # two untimed warm-up ops: the first still leaves the JIT warming
        # (the next op ran ~10% slower than the one after it)
        for k in (-2, -1):
            self.restore()
            res = self.op(k)
        self.reference(res)

    def _pipeline(self):
        from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline

        return ExtractionPipeline(self.spark, self.live)

    def op(self, k: int) -> dict:
        return self._pipeline().run(self.pages, run_id=f"op{k}",
                                    with_chunks=True)

    def reference(self, res: dict) -> None:
        """In-process `extract_document` goldens for a seeded sample of the
        urls the last warm-up op published."""
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.kernel.htmlx import extract_document

        sample = [r["url"] for r in self._pipeline().read_docs()
                  .where(F.col("failure_code").isNull()).select("url")
                  .orderBy(F.xxhash64("url", F.lit(self.seed + 2)))
                  .limit(40).collect()]
        rows = self.pages.where(F.col("url").isin(sample)) \
            .select("url", "html").collect()
        self.golden = {r["url"]: extract_document(bytes(r["html"]))
                       ["extracted_text"] for r in rows}

    def check(self, res: dict) -> list[str]:
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.schema import MANIFEST_SCHEMA

        errs = []
        pipe = self._pipeline()
        m = self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            pipe.manifest_path).select("url")
        agg = m.selectExpr("count(*) AS n", "count(DISTINCT url) AS d") \
            .first()
        missing = self.pages.select("url").join(m, "url", "left_anti").count()
        if not (agg["n"] == agg["d"] == self.n_pages and missing == 0):
            errs.append(f"manifest: {agg['n']} rows, {agg['d']} urls, "
                        f"{missing} inputs missing; expected {self.n_pages}")
        got = {r["url"]: r["extracted_text"] for r in pipe.read_docs()
               .where(F.col("url").isin(list(self.golden)))
               .select("url", "extracted_text").collect()}
        bad = sum(got.get(u) != t for u, t in self.golden.items())
        if bad or len(got) != len(self.golden):
            errs.append(f"committed extracted_text differs from in-process "
                        f"goldens on {bad} of {len(self.golden)} sampled urls")
        return errs

    def op_input(self) -> tuple[int, int]:
        return self.n_pages, self.in_bytes

    def op_metrics(self, op, rec: dict, parts_s: float) -> dict:
        return {"pipeline.sinks_commit_s": op.seconds - parts_s,
                "pipeline.jobs": op.counters["jobs"],
                "pipeline.files_written": rec["files"],
                "pipeline.bytes_written": rec["bytes"]}

    def replay(self, k: int) -> dict:
        """The op's layers, one span each, on the op's own inputs; then the
        curation and dedup-gate layers a gated run would add, measured on
        the same freshly extracted docs."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from rag_pdf_parser_spark.functions import normalized_text_hash_expr
        from rag_pdf_parser_spark.operators.dedup import (anti_join_seen,
                                                          register_hashes)
        from rag_pdf_parser_spark.operators.extract import extract_docs_full
        from rag_pdf_parser_spark.plans.curate import with_text_gate_flags
        from rag_pdf_parser_spark.schema import PAGES_SCHEMA

        tr = self.tracer
        with tr.span("pipeline.pending", k, "replay"):
            todo = self._pipeline().pending(self.pages)
            gated = todo is not self.pages  # a manifest exists
            if gated:
                noop(todo)
        with tr.span("extract.serde_floor", k, "replay"):
            noop(self.pages.select("url", "html")
                 .repartition(3 * self.sp, F.xxhash64("url"))
                 .mapInArrow(lambda it: it, StructType(
                     [PAGES_SCHEMA["url"], PAGES_SCHEMA["html"]])))
        with tr.span("extract.stage", k, "replay"):
            noop(extract_docs_full(todo))
        docs = extract_docs_full(todo).drop("blocks", "chunks") \
            .localCheckpoint(eager=True)
        with tr.span("curate.gates", k, "replay"):
            flags = with_text_gate_flags(docs, "extracted_text")
            drops = flags.where(~(F.col("gopher_keep")
                                  & F.col("repetition_keep")
                                  & F.col("model_keep"))).count()
        # the seen store holds one half of the docs (by url hash); the
        # probe then runs the other half against it
        ok = docs.where(F.col("failure_code").isNull()
                        & (F.length("extracted_text") > 0))
        first = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
        h = normalized_text_hash_expr(F.col("extracted_text"))
        seen = os.path.join(self.work, f"replay_seen_{k}")
        with tr.span("dedup.register", k, "replay"):
            register_hashes(seen, ok.where(first).select(
                h.alias("hash"), F.lit("normalized_text").alias("kind"),
                F.lit(f"op{k}").alias("source")))
        probe = ok.where(~first).localCheckpoint(eager=True)
        with tr.span("dedup.seen_probe", k, "replay"):
            kept = anti_join_seen(probe, self.spark.read.parquet(seen), h,
                                  "normalized_text").count()
        shutil.rmtree(seen, ignore_errors=True)
        return {"pipeline.pending_rows": self.n_pages if gated else 0,
                "curate.drops": drops,
                "dedup.gate_dups": probe.count() - kept}


class DedupAdmit(Workload):
    """An incremental near-dedup admit: the op runs
    `dedup_corpus_incremental` for one increment against a store that
    already holds the other half of the corpus."""

    name = "dedup_admit"
    parts = ("dedup.exact", "dedup.lsh", "dedup.verify", "dedup.canonical")
    #: corpus shape: base docs, text prefix, and the shares (percent of
    #: base docs) re-emitted as an edited near copy and as an exact copy
    NEAR_PCT, EXACT_PCT = 10, 5
    TEXT_CHARS = 600
    #: near copies at or above this char-5-gram Jaccard must be caught
    #: (LSH at 32 perms / 8 bands misses one in ~10^6 such pairs)
    CHECK_JACCARD = 0.95

    def load(self) -> None:
        import pandas as pd

        from rag_pdf_parser_spark.datagen import _EN_WORDS, make_page
        from rag_pdf_parser_spark.kernel.htmlx import extract_document

        m = {"full": 600, "tiny": 80}[self.size]
        base = []
        i = 0
        while len(base) < m:
            d = extract_document(make_page(i, self.seed)["html"])
            if d["failure_code"] is None and \
                    len(d["extracted_text"]) >= self.TEXT_CHARS:
                base.append((f"b{i:07d}", d["extracted_text"]
                             [:self.TEXT_CHARS]))
            i += 1
        rng = random.Random(self.seed)
        half = m // 2
        store_rows = base[:half]
        inc_rows = list(base[half:])
        self.copies = {}  # copy id -> (source id, jaccard with source)
        for j, (bid, text) in enumerate(base):
            roll = rng.random() * 100
            if roll < self.NEAR_PCT:
                words = text.split(" ")
                w = rng.randrange(len(words))
                words[w] = rng.choice([x for x in _EN_WORDS if x != words[w]])
                cid, ctext = f"n{j:07d}", " ".join(words)
            elif roll < self.NEAR_PCT + self.EXACT_PCT:
                cid, ctext = f"x{j:07d}", text
            else:
                continue
            inc_rows.append((cid, ctext))
            self.copies[cid] = (bid, _jaccard(text, ctext))
        checked = [c for c, (s, jac) in self.copies.items()
                   if jac >= 0.8]
        self.true_pair_share = len(checked) / max(1, len(self.copies))
        path = os.path.join(self.work, "corpus")
        q = len(store_rows) // 2
        parts = {"store1": store_rows[:q], "store2": store_rows[q:],
                 "inc": inc_rows}
        self.spark.createDataFrame(pd.DataFrame(
            [(p, i, t) for p, rows in parts.items() for i, t in rows],
            columns=["part", "doc_id", "text"])) \
            .write.mode("overwrite").partitionBy("part").parquet(path)
        read = self.spark.read.parquet
        self.store_halves = [read(os.path.join(path, f"part={p}"))
                             for p in ("store1", "store2")]
        self.increment = read(os.path.join(path, "part=inc"))
        self.inc_rows = len(inc_rows)
        self.inc_bytes = sum(len(t.encode()) for _, t in inc_rows)

    def prepare(self) -> None:
        """Admit the store half in two increments; the second probes the
        store like the op does, so it also warms the op's code path. The
        JIT is still warming after it (the first timed admit runs ~10%
        slower than the second), but one more warm-up admit would push a
        run past the time the benchmark may take."""
        from rag_pdf_parser_spark.operators.dedup import (
            dedup_corpus_incremental)

        self.pristine_dir = os.path.join(self.work, "pristine")
        self.live = os.path.join(self.work, "store")
        os.makedirs(self.pristine_dir, exist_ok=True)
        for half in self.store_halves:
            dedup_corpus_incremental(half, *self._paths(self.pristine_dir))
        canon = self.spark.read.parquet(self._paths(self.pristine_dir)[1])
        self.store_ids = {r["doc_id"] for r in canon.select("doc_id")
                          .collect()}
        self.ref_ids = None

    @staticmethod
    def _paths(root: str) -> tuple[str, str]:
        return os.path.join(root, "lsh"), os.path.join(root, "canon")

    def op(self, k: int) -> dict:
        from rag_pdf_parser_spark.operators.dedup import (
            dedup_corpus_incremental)

        admitted = dedup_corpus_incremental(self.increment,
                                            *self._paths(self.live))
        # the admitted ids are collected inside the op: they are what the
        # caller gets back
        ids = sorted(r["doc_id"] for r in admitted.select("doc_id")
                     .collect())
        return {"ids": ids}

    def check(self, res: dict) -> list[str]:
        errs = []
        if self.ref_ids is None:
            self.ref_ids = res["ids"]
        if res["ids"] != self.ref_ids:
            errs.append(f"admitted {len(res['ids'])} ids, differing from "
                        f"the first op's {len(self.ref_ids)}")
        admitted = set(res["ids"])
        leaked = [c for c, (src, jac) in self.copies.items()
                  if src in self.store_ids and jac >= self.CHECK_JACCARD
                  and c in admitted]
        if leaked:
            errs.append(f"{len(leaked)} near/exact copies of stored docs "
                        f"admitted, e.g. {leaked[:3]}")
        return errs

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine_dir, self.live)

    def op_input(self) -> tuple[int, int]:
        return self.inc_rows, self.inc_bytes

    def op_metrics(self, op, rec: dict, parts_s: float) -> dict:
        return {"dedup.store_rest_s": op.seconds - parts_s,
                "dedup.store_files": rec["files"]}

    def replay(self, k: int) -> dict:
        """The within-increment chain `dedup_corpus` runs, one span per
        public step, with the same parameters the admit uses."""
        from pyspark.sql import functions as F

        from rag_pdf_parser_spark.operators.dedup import (
            connected_components, dedup_keep_canonical, exact_dedup,
            lsh_candidate_pairs, ngram_jaccard_pairs)

        tr = self.tracer
        with tr.span("dedup.exact", k, "replay"):
            out = exact_dedup(self.increment, "text", "doc_id") \
                .drop("content_sha").repartition(self.sp, "doc_id") \
                .localCheckpoint(eager=True)
        with tr.span("dedup.lsh", k, "replay"):
            cands = lsh_candidate_pairs(out, num_perm=32, bands=8,
                                        max_bucket=10_000) \
                .localCheckpoint(eager=True)
        with tr.span("dedup.verify", k, "replay"):
            verified = ngram_jaccard_pairs(out, cands, min_jaccard=0.8) \
                .where(F.col("jaccard") >= 0.8).select("id_a", "id_b") \
                .localCheckpoint(eager=True)
        with tr.span("dedup.components", k, "replay"):
            connected_components(verified).count()
        with tr.span("dedup.canonical", k, "replay"):
            noop(dedup_keep_canonical(out, verified))
        n_c, n_v = cands.count(), verified.count()
        return {"dedup.candidate_pairs": n_c, "dedup.verified_pairs": n_v,
                "dedup.verify_yield": n_v / n_c if n_c else 0.0}


WORKLOADS = {w.name: w for w in (CrawlFresh, DedupAdmit)}


def _jaccard(a: str, b: str, n: int = 5) -> float:
    """Char n-gram Jaccard of the normalized texts (the admit's verify
    space: lowercased, whitespace collapsed)."""
    def grams(s: str) -> set:
        s = " ".join(s.lower().split())
        return {s[i:i + n] for i in range(max(1, len(s) - n + 1))}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


# -- kernel (in-process, single-threaded) ----------------------------------------

def kernel_sample(seed: int, n: int) -> dict:
    from rag_pdf_parser_spark.datagen import make_page
    from rag_pdf_parser_spark.kernel.chunker import chunk_blocks
    from rag_pdf_parser_spark.kernel.htmlx import extract_document

    pages = [make_page(i, seed + 3) for i in range(n)]
    t_ext = t_chk = 0.0
    failed = 0
    for p in pages:
        t0 = time.perf_counter()
        d = extract_document(p["html"])
        t1 = time.perf_counter()
        chunk_blocks(d["blocks"], d["doc_id"])
        t2 = time.perf_counter()
        t_ext += t1 - t0
        t_chk += t2 - t1
        failed += d["failure_code"] is not None
    return {"kernel.extract_us_per_doc": t_ext / n * 1e6,
            "kernel.chunk_us_per_doc": t_chk / n * 1e6,
            "kernel.failure_share": failed / n}


# -- run loop -------------------------------------------------------------------

def steal_seconds() -> float:
    """CPU time the hypervisor gave to other tenants, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_info(seed: int) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cores": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "java": java[0] if java else "",
            "python": platform.python_version(), "seed": seed,
            "driver_mem": os.environ.get("SPARK_DRIVER_MEM")}


def run_ops(wl: Workload, tracer: Tracer, seconds: float, min_ops: int,
            first_k: int, traced: bool, log) -> list[dict]:
    """Closed loop: restore, op, check — until `seconds` have passed and
    at least `min_ops` ops ran."""
    out = []
    start = time.perf_counter()
    k = first_k
    while len(out) < min_ops or time.perf_counter() - start < seconds:
        wl.restore()
        f0, b0 = dir_stats(wl.live)
        sampler = RssSampler(os.getpid())
        rec = {"k": k, "errors": []}
        try:
            with sampler:
                if traced:
                    with tracer.span("op", k) as sp:
                        res = wl.op(k)
                    rec["span"] = sp
                else:
                    c0, t0 = tree_cpu_seconds(os.getpid()), time.perf_counter()
                    res = wl.op(k)
                    rec["wall"] = time.perf_counter() - t0
                    rec["cpu"] = tree_cpu_seconds(os.getpid()) - c0
            if traced:
                rec["wall"] = sp.seconds
            f1, b1 = dir_stats(wl.live)
            rec.update(files=f1 - f0, bytes=b1 - b0, rss=sampler.peak)
            rec["errors"] = wl.check(res)
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op
            rec["errors"].append(f"{type(e).__name__}: {e}")
        if traced and not rec["errors"]:
            wl.restore()
            with tracer.span("replay", k):
                rec["replay"] = wl.replay(k) or {}
        log(f"op {k}: {rec.get('wall', float('nan')):.3f} s"
            + (f" FAILED {rec['errors']}" if rec["errors"] else ""))
        out.append(rec)
        k += 1
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    def log(msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - t_setup:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    t_setup = time.perf_counter()
    from rag_pdf_parser_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(f"local[{cpus}]", shuffle_partitions=cpus)
    session_s = time.perf_counter() - t_setup
    tracer = Tracer(spark, enabled=bool(a.trace))
    os.makedirs(a.work, exist_ok=True)
    wl = WORKLOADS[a.workload](spark, tracer, a.work, a.seed, a.size)
    with tracer.span("sources.load") as load_span:
        wl.load()
    log(f"inputs ready ({load_span.seconds:.2f} s)")
    wl.prepare()
    setup_s = time.perf_counter() - t_setup
    log(f"setup done ({setup_s:.2f} s)")

    min_ops = 1 if a.size == "tiny" else 2
    steal0 = steal_seconds()
    if a.trace:
        plain = run_ops(wl, tracer, a.seconds / 2, 1, 0, False, log)
        traced = run_ops(wl, tracer, a.seconds / 2, 1, len(plain), True, log)
        recs = plain + traced
    else:
        recs = run_ops(wl, tracer, a.seconds, min_ops, 0, False, log)
    failed = sum(1 for r in recs if r["errors"])
    ok = [r for r in recs if not r["errors"]]
    for r in recs:
        for e in r["errors"]:
            log(f"op {r['k']} check failed: {e}")
    info = host_info(a.seed)
    info["steal_s_during_ops"] = round(steal_seconds() - steal0, 2)
    docs, in_bytes = wl.op_input()
    metrics: dict[str, tuple[float, str]] = {}
    if ok and not a.trace:
        op_s = statistics.median(r["wall"] for r in ok)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (op_s, "s"),
            "op_cpu_s_p50": (statistics.median(r["cpu"] for r in ok), "s"),
            "docs_per_s": (docs / op_s, "1/s"),
            "write_amp": (statistics.median(r["bytes"] for r in ok)
                          / in_bytes, "ratio"),
            "peak_rss_mb": (statistics.median(r["rss"] for r in ok) / 2**20,
                            "MB"),
        }
        print(f"{wl.name}: setup_s={setup_s:.3f} op_s_p50={op_s:.3f} "
              f"(n={len(ok)} ops) "
              f"op_cpu_s_p50={metrics['op_cpu_s_p50'][0]:.3f} "
              f"docs_per_s={docs / op_s:.1f} "
              f"failed_ops_ratio={failed / len(recs):.3f} "
              f"write_amp={metrics['write_amp'][0]:.4f} "
              f"peak_rss_mb={metrics['peak_rss_mb'][0]:.1f} "
              f"input_docs={docs} input_bytes={in_bytes}")
    elif ok:
        metrics = layer_metrics(wl, tracer, session_s, load_span, recs, a)
        for k, (v, u) in metrics.items():
            print(f"{wl.name}: {k} = {v:.6g} {u}")
        # the raw span tree, one JSON line per span, for ad-hoc analysis
        for sp in tracer.spans + tracer.jobs:
            print(json.dumps({"span": sp.name, "start": sp.start,
                              "end": sp.end, "parent": sp.parent,
                              "op_id": sp.op_id}), file=sys.stderr)
    print(json.dumps({"host": info, "workload": wl.name,
                      **({"true_pair_share": wl.true_pair_share}
                         if hasattr(wl, "true_pair_share") else {})}))
    spark.stop()
    correct = failed == 0 and bool(ok)
    print(json.dumps({
        "correct": correct, "attempted": len(recs), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def layer_metrics(wl: Workload, tracer: Tracer, session_s: float,
                  load_span, recs: list[dict], a) -> dict:
    med = statistics.median
    plain = [r for r in recs if "span" not in r and not r["errors"]]
    traced = [r for r in recs if "span" in r and not r["errors"]]
    vals: dict[str, float] = dict.fromkeys(all_layer_metrics(), 0.0)
    vals["session.start_s"] = session_s
    vals["sources.load_s"] = load_span.seconds
    for c in COUNTERS:
        vals[f"sources.load.{c}"] = load_span.counters.get(c, 0.0)
    vals.update(kernel_sample(a.seed, 60 if a.size == "tiny" else 300))
    by_op: dict[int, dict[str, object]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op_id, {})[s.name] = s
    per_op: list[dict[str, float]] = []
    for r in traced:
        spans = by_op[r["k"]]
        op = spans["op"]
        v: dict[str, float] = {}
        for name, s in spans.items():
            if name not in ("op", "replay"):
                v[name + "_s"] = s.seconds
        for name in COUNTER_SPANS[1:]:
            if name in spans:
                for c in COUNTERS:
                    v[f"{name}.{c}"] = spans[name].counters[c]
        # the op's own children are the Spark jobs it ran: its self time
        # is the wall no job covers (planning, driver-side work, commits)
        jobs = [(j.start, j.end) for j in tracer.jobs
                if j.parent == "op" and j.op_id == r["k"]]
        v["unattributed_s"] = self_time(op, jobs)
        v.update(wl.op_metrics(op, r, sum(spans[p].seconds
                                          for p in wl.parts)))
        v.update(r["replay"])
        per_op.append(v)
    for key in per_op[0] if per_op else ():
        vals[key] = med(v[key] for v in per_op)
    op_plain = med(r["wall"] for r in plain) if plain else 0.0
    op_traced = med(r["wall"] for r in traced) if traced else 0.0
    vals["trace.untraced_op_s"] = op_plain
    vals["trace.traced_op_s"] = op_traced
    vals["trace.overhead_s"] = op_traced - op_plain
    unknown = set(vals) - set(all_layer_metrics())
    if unknown:
        raise KeyError(f"unlisted layer metrics {sorted(unknown)}")
    return {k: (float(v), unit_of(k)) for k, v in vals.items()}


if __name__ == "__main__":
    sys.exit(main())
