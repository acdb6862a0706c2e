"""Dedup family (exact / MinHash-LSH / SimHash / Jaccard) and similarity
search — verified against independent Python recomputation."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rag_pdf_parser_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from rag_pdf_parser_spark.operators.similarity import ann_topk, brute_force_topk

BASE = (
    "the quick brown fox jumps over the lazy dog and keeps running through "
    "the quiet forest while the morning light slowly fills the sky above"
)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = []
    for i in range(20):
        if i < 3:
            text = BASE  # exact triplet
        elif i < 6:
            text = BASE.replace("quick", f"swift{i}")  # near-dups of BASE
        else:
            import hashlib

            text = " ".join(
                hashlib.sha256(f"{i}-{j}".encode()).hexdigest()[:8]
                for j in range(30)
            )
        rows.append((f"d{i:02d}", text))
    return spark.createDataFrame(rows, "doc_id string, text string").cache()


def test_exact_dedup(spark, docs_df):
    kept = exact_dedup(docs_df).collect()
    ids = sorted(r["doc_id"] for r in kept)
    # the three identical docs collapse to the min doc_id
    assert "d00" in ids and "d01" not in ids and "d02" not in ids
    assert len(ids) == 18


def test_exact_dedup_hashes_each_row_once(spark, docs_df):
    """One scan of the input and one sha256 per row: the optimized plan of
    `exact_dedup` holds exactly one Sha2 expression and one leaf (a
    self-join re-scans the input and re-hashes it on both sides)."""
    def walk(root, kids):
        todo = [root]
        while todo:
            node = todo.pop()
            yield node
            seq = kids(node)
            todo.extend(seq.apply(i) for i in range(seq.size()))

    plan = exact_dedup(docs_df)._jdf.queryExecution().optimizedPlan()
    ops = list(walk(plan, lambda n: n.children()))
    exprs = [e for op in ops
             for i in range(op.expressions().size())
             for e in walk(op.expressions().apply(i), lambda n: n.children())]
    assert sum(e.nodeName() == "Sha2" for e in exprs) == 1, plan.toString()
    assert sum(op.children().size() == 0 for op in ops) == 1, plan.toString()


def test_lsh_finds_near_dups(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(docs_df, bands=4, num_perm=8).collect()}
    # all pairs among the 6 BASE-family docs should be candidates
    fam = [f"d{i:02d}" for i in range(6)]
    found = sum((a, b) in pairs for i, a in enumerate(fam) for b in fam[i + 1:])
    assert found >= 12  # most of the 15 family pairs
    # unique docs shouldn't pair with the family
    for a, b in pairs:
        assert a in fam and b in fam, (a, b)


def test_lsh_sha_flavor_agrees_on_family(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(docs_df, bands=2, num_perm=4,
                                          flavor="sha").collect()}
    assert ("d00", "d01") in pairs


def test_jaccard_exact(spark, docs_df):
    pairs = spark.createDataFrame(
        [("d00", "d01"), ("d00", "d03"), ("d00", "d07")],
        "id_a string, id_b string",
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs_df, pairs).collect()}

    def py_jaccard(a, b, n=5):
        import re
        na = re.sub(r"\s+", " ", a.lower()).strip()
        nb = re.sub(r"\s+", " ", b.lower()).strip()
        sa = {na[i:i + n] for i in range(max(1, len(na) - n + 1))}
        sb = {nb[i:i + n] for i in range(max(1, len(nb) - n + 1))}
        return round(len(sa & sb) / len(sa | sb), 6)

    texts = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    assert got[("d00", "d01")] == 1.0
    assert got[("d00", "d03")] == pytest.approx(py_jaccard(texts["d00"], texts["d03"]), abs=1e-6)
    assert got[("d00", "d07")] < 0.05


def test_jaccard_sort_merge_fallback(spark, docs_df, monkeypatch):
    """Above `JACCARD_BROADCAST_BYTES` the verify joins the gram arrays
    by sort-merge: the same rows as the broadcast path, and no
    BroadcastHashJoin carries a gram array."""
    from rag_pdf_parser_spark.operators import dedup
    from rag_pdf_parser_spark.operators.spread import plan_nodes

    pairs = spark.createDataFrame(
        [("d00", "d01"), ("d00", "d03"), ("d00", "d07")],
        "id_a string, id_b string",
    )
    broadcast = sorted(map(tuple, ngram_jaccard_pairs(docs_df, pairs)
                           .collect()))
    monkeypatch.setattr(dedup, "JACCARD_BROADCAST_BYTES", 0)
    out = ngram_jaccard_pairs(docs_df, pairs)
    assert sorted(map(tuple, out.collect())) == broadcast

    def carries_grams(node):
        out_attrs = node.output()
        return any(out_attrs.apply(i).name() in ("__ga", "__gb")
                   for i in range(out_attrs.size()))

    joins = [n.nodeName() for n in plan_nodes(out) if carries_grams(n)
             and n.nodeName().endswith("Join")]
    assert joins and "BroadcastHashJoin" not in joins, joins


def test_jaccard_size_bound_keeps_rounding_boundary(spark, docs_df):
    """The prefilter bound must never drop a pair the round-half-up-6
    >= t gate keeps. Subset pair |A|=1,599,999 ⊂ |B|=2,000,000: true
    J = 0.7999995 rounds to exactly 0.800000 (kept by the t=0.8 gate),
    but the unrounded bound min >= t*max computes 1,599,999 >= 1,600,000
    and drops it — output would depend on whether the prefilter is on.
    Only reachable at >=1e6-shingle docs, so the predicate is asserted
    directly on the size literals rather than via constructed texts."""
    from rag_pdf_parser_spark.operators.dedup import jaccard_size_bound_expr

    sizes = spark.createDataFrame(
        [(1_599_999, 2_000_000),   # J_max = 0.7999995 -> rounds to 0.8
         (1_599_997, 2_000_000),   # J_max = 0.7999985 -> rounds below 0.8
         (1_600_000, 2_000_000),   # J_max = 0.8 exactly
         (4, 5)],                  # small-scale sanity: 0.8 exactly
        "sa long, sb long")
    got = sizes.select(
        "sa", jaccard_size_bound_expr(F.col("sa"), F.col("sb"), 0.8)
        .alias("keep"),
        F.round(F.col("sa") / F.col("sb"), 6).alias("rounded")).collect()
    by_sa = {r["sa"]: r for r in got}
    # the gate-side fact the slack exists for:
    assert by_sa[1_599_999]["rounded"] == 0.8
    assert by_sa[1_599_999]["keep"] is True
    assert by_sa[1_600_000]["keep"] is True
    assert by_sa[4]["keep"] is True
    # provably sub-gate pairs still pruned
    assert by_sa[1_599_997]["keep"] is False
    # the regression: the unrounded bound drops the boundary pair
    naive = sizes.where(F.least("sa", "sb")
                        >= 0.8 * F.greatest("sa", "sb"))
    assert 1_599_999 not in {r["sa"] for r in naive.collect()}

    # contract at small scale: prefilter output is a SUPERSET of the
    # gate-kept pairs of the unfiltered run, with identical values
    pairs = spark.createDataFrame(
        [("d00", "d01"), ("d00", "d03"), ("d00", "d07")],
        "id_a string, id_b string")
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs_df, pairs).collect()}
    pre = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs_df, pairs,
                                        min_jaccard=0.8).collect()}
    gate_kept = {k: v for k, v in full.items() if v >= 0.8}
    assert gate_kept.items() <= pre.items()
    # (pre may also report sub-threshold pairs — the size ratio only
    # upper-bounds J — the callers' >= t gate drops those; the contract
    # under test is that nothing the gate keeps went missing)


def test_simhash_near_dups_close(spark, docs_df):
    rows = {r["doc_id"]: r["simhash"] for r in simhash(docs_df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(rows["d00"], rows["d01"]) == 0  # identical text
    assert hamming(rows["d00"], rows["d03"]) <= 16  # near-dup
    assert hamming(rows["d00"], rows["d10"]) > 16  # unrelated


@pytest.fixture(scope="module")
def vecs_df(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal((10, 16))
    rows = []
    for i in range(50):
        v = base[i % 10] + rng.standard_normal(16) * 0.05
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_brute_force_topk_matches_numpy(spark, vecs_df):
    queries = vecs_df.where(F.col("vec_id") < 2)
    got = brute_force_topk(vecs_df, queries, k=3).collect()

    pdf = vecs_df.toPandas()
    m = np.vstack(pdf["embedding"].to_numpy())
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    for qid in (0, 1):
        sims = mn @ mn[qid]
        order = sorted(
            ((round(float(s), 4), int(i)) for i, s in enumerate(sims) if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        have = sorted(
            [(r["cosine"], r["cand_id"]) for r in got if r["query_id"] == qid],
            key=lambda t: (-t[0], t[1]),
        )
        assert have == [(s, i) for s, i in order]


def test_ann_recall_against_brute_force(spark, vecs_df):
    queries = vecs_df.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["cand_id"])
             for r in brute_force_topk(vecs_df, queries, k=3).collect()}
    approx = {(r["query_id"], r["cand_id"])
              for r in ann_topk(vecs_df, queries, dim=16, k=3,
                                n_bits=16, bands=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # clustered data → high bucket collision


def test_ivf_recall_against_brute_force(spark, vecs_df):
    from rag_pdf_parser_spark.operators.similarity import ivf_topk

    queries = vecs_df.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["cand_id"])
             for r in brute_force_topk(vecs_df, queries, k=3).collect()}
    approx = {(r["query_id"], r["cand_id"])
              for r in ivf_topk(vecs_df, queries, k=3,
                                n_lists=5, n_probe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # clustered fixture → probed lists cover neighbors


def test_ivf_deterministic(spark, vecs_df):
    from rag_pdf_parser_spark.operators.similarity import ivf_topk

    queries = vecs_df.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, ivf_topk(vecs_df, queries, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(vecs_df, queries, k=3).collect()))
    assert a == b


def test_ivf_stable_across_partitionings(spark, vecs_df):
    """The quantizer sample (and hence every IVF answer) must not depend on
    physical partitioning — the determinism hazard VERDICT r1 #2 flagged."""
    from rag_pdf_parser_spark.operators.similarity import ivf_topk

    queries = vecs_df.where(F.col("vec_id") < 3)
    a = sorted(map(tuple,
                   ivf_topk(vecs_df.repartition(2), queries, k=3).collect()))
    b = sorted(map(tuple,
                   ivf_topk(vecs_df.repartition(8), queries, k=3).collect()))
    assert a == b


def test_ivf_bounds_query_collect(spark, vecs_df, monkeypatch):
    from rag_pdf_parser_spark.operators import similarity
    from rag_pdf_parser_spark.operators.similarity import ivf_topk

    monkeypatch.setattr(similarity, "MAX_QUERIES", 10)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        ivf_topk(vecs_df, vecs_df, k=3)


def test_simhash_plan_has_no_exchange(spark, docs_df):
    """The fingerprint pass must be shuffle-free (VERDICT r1 #1: an earlier
    revision repartitioned the full text column as a CollapseProject
    barrier)."""
    plan = simhash(docs_df).select("doc_id", "simhash")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_lsh_max_bucket_guard(spark, docs_df):
    """Skew guard: capping bucket size removes the fan-out from the
    6-member near-identical family but keeps smaller-bucket candidates."""
    uncapped = lsh_candidate_pairs(docs_df, bands=4, num_perm=8).count()
    capped = lsh_candidate_pairs(docs_df, bands=4, num_perm=8,
                                 max_bucket=2).count()
    assert capped < uncapped
    # the exact-dup triplet (d00-d02) shares every bucket (size >= 3) → gone
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(docs_df, bands=4, num_perm=8,
                                          max_bucket=2).collect()}
    assert ("d00", "d01") not in pairs


def test_ivf_disk_index_partition_pruning(spark, vecs_df, tmp_path):
    """The 100-TB IVF shape: corpus written partitionBy(list_id); a query
    scans ONLY its probed partitions (PartitionFilters in the plan) and
    returns the same answers as the in-memory IVF."""
    from rag_pdf_parser_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf_index")
    cents = write_ivf_index(vecs_df, path, n_lists=5)
    queries = vecs_df.where(F.col("vec_id") < 3)

    out = ivf_topk_from_index(spark, path, cents, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the pruned scan must actually name list_id filters (non-empty list)
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "list_id" in seg, seg

    direct = sorted(map(tuple, ivf_topk(
        vecs_df, queries, k=3, n_lists=5, n_probe=2).collect()))
    via_disk = sorted(map(tuple, out.collect()))
    assert via_disk == direct


def test_keep_canonical_drops_non_min_members(spark):
    """dedup_keep_canonical keeps exactly one doc per component (min id)
    plus all unpaired docs."""
    from rag_pdf_parser_spark.operators.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (7, 8)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    # component {1,3,5} -> keep 1; {7,8} -> keep 7; others unpaired
    assert kept == [0, 1, 2, 4, 6, 7, 9], kept


def test_connected_components_chain_converges(spark, monkeypatch):
    """A 12-node chain needs multiple propagation rounds — exercises the
    convergence loop beyond diameter-1 graphs."""
    from rag_pdf_parser_spark.operators import dedup
    from rag_pdf_parser_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)] + [(20, 21)],
        "id_a long, id_b long")
    # DRIVER_EDGES=0 pins the DISTRIBUTED loop (the r7 small-graph
    # fast path would otherwise absorb a 12-edge graph)
    monkeypatch.setattr(dedup, "DRIVER_EDGES", 0)
    comp = {r["id"]: r["comp"]
            for r in connected_components(pairs).collect()}
    assert all(comp[i] == 0 for i in range(12)), comp
    assert comp[20] == comp[21] == 20, comp


def test_connected_components_fast_path_matches_loop(spark, monkeypatch):
    """r7: the driver-side union-find fast path must produce EXACTLY the
    distributed loop's labels — same rows, same min-label components —
    on a graph with chains, a star, duplicates, self-pairs and an
    isolated pair."""
    from rag_pdf_parser_spark.operators import dedup
    from rag_pdf_parser_spark.operators.dedup import connected_components

    edges = ([(i, i + 1) for i in range(9)]          # chain 0..9
             + [(50, 60), (50, 70), (50, 80)]        # star
             + [(3, 2), (2, 3), (7, 7)]              # dups + self-pair
             + [(100, 101)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    # string ids too (UTF8 vs Python ordering must agree)
    spairs = spark.createDataFrame(
        [("d2", "d1"), ("d1", "d0"), ("x", "y")], "id_a string, id_b string")
    fast = sorted(map(tuple, connected_components(pairs).collect()))
    fast_s = sorted(map(tuple, connected_components(spairs).collect()))
    monkeypatch.setattr(dedup, "DRIVER_EDGES", 0)
    loop = sorted(map(tuple, connected_components(pairs).collect()))
    loop_s = sorted(map(tuple, connected_components(spairs).collect()))
    assert fast == loop
    assert fast_s == loop_s


def test_connected_components_loop_reads_checkpointed_edges(spark,
                                                           monkeypatch):
    """When the bounded probe overflows `DRIVER_EDGES`, the distributed
    loop materializes the edge list once: no propagation round re-runs
    the caller's pair plan. Labels equal the fast path's."""
    from rag_pdf_parser_spark.operators import dedup
    from rag_pdf_parser_spark.operators.dedup import connected_components
    from rag_pdf_parser_spark.operators.spread import plan_nodes

    # a 6-node chain per component, 5 components: 25 edges
    pairs = spark.range(30).where(F.col("id") % 6 != 5).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    fast = sorted(map(tuple, connected_components(pairs).collect()))

    rounds = []
    frame = type(pairs)  # the session's concrete DataFrame class
    real = frame.localCheckpoint

    def recording(self, *a, **k):
        if "__changed" in self.columns:
            rounds.append(self)
        return real(self, *a, **k)

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    monkeypatch.setattr(dedup, "DRIVER_EDGES", 4)
    loop = sorted(map(tuple, connected_components(pairs).collect()))
    assert loop == fast
    assert fast[:6] == [(i, 0) for i in range(6)]
    assert len(rounds) >= 3, len(rounds)
    jvm = spark._jvm
    range_exec = jvm.Class.forName(
        "org.apache.spark.sql.execution.RangeExec")
    rdd_scan = jvm.Class.forName(
        "org.apache.spark.sql.execution.RDDScanExec")
    # each round joins two checkpoints (labels, edges) and never scans
    # the caller's Range
    for r in rounds:
        nodes = list(plan_nodes(r))
        assert not any(range_exec.isInstance(n) for n in nodes)
        assert sum(rdd_scan.isInstance(n) for n in nodes) >= 2, \
            [n.nodeName() for n in nodes]


def test_exact_and_near_dedup_keep_null_text_docs(spark, tmp_path):
    """A NULL text is never an exact duplicate of anything: `exact_dedup`,
    `dedup_corpus` and the incremental admit keep every NULL-text doc,
    while real duplicates are still dropped."""
    from rag_pdf_parser_spark.operators.dedup import (
        dedup_corpus,
        dedup_corpus_incremental,
    )

    hello = "hello world, this is a document long enough to shingle"
    schema = "doc_id string, text string"
    docs = spark.createDataFrame(
        [("a", hello), ("b", None), ("c", None), ("d", ""), ("e", hello)],
        schema)
    ex = {r["doc_id"]: r["content_sha"] for r in exact_dedup(docs).collect()}
    assert sorted(ex) == ["a", "b", "c", "d"], ex
    assert ex["b"] is None and ex["c"] is None and ex["a"] is not None
    assert sorted(r["doc_id"] for r in dedup_corpus(docs).collect()) \
        == ["a", "b", "c", "d"]

    store, canon = str(tmp_path / "lsh"), str(tmp_path / "canon")
    first = dedup_corpus_incremental(docs, store, canon)
    assert sorted(r["doc_id"] for r in first.collect()) \
        == ["a", "b", "c", "d"]
    second = spark.createDataFrame(
        [("f", None), ("g", hello), ("h", "")], schema)
    assert [r["doc_id"] for r in
            dedup_corpus_incremental(second, store, canon).collect()] == ["f"]


def test_jaccard_null_and_empty_text_parity(spark):
    """r7 review regression: the array_intersect formulation must keep
    the pre-r7 equi-join NULL semantics — a NULL-text doc's single NULL
    gram matches NOTHING (jaccard 0.0 even against another NULL doc),
    while two ''-text docs share the ''-gram (1.0)."""
    from rag_pdf_parser_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "abcdefgh"), (4, ""), (5, "")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (3, 4), (4, 5)],
        "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, pairs).collect()}
    assert out[(1, 2)] == 0.0   # NULL vs NULL
    assert out[(1, 3)] == 0.0   # NULL vs real
    assert out[(1, 4)] == 0.0   # NULL vs '' — NULL gram != '' gram
    assert out[(3, 4)] == 0.0   # real vs ''
    assert out[(4, 5)] == 1.0   # '' vs '' share the ''-gram


def test_jaccard_duplicate_ids_raise(spark):
    """`id_col` must uniquely key the docs: a duplicate id among the
    candidate docs raises instead of emitting one row per duplicate; a
    duplicate id in no candidate pair cannot reach the output and
    passes."""
    from rag_pdf_parser_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "abcdefgh"), (1, "abcdefgx"), (2, "abcdefgh"),
         (9, "zzzzzz"), (9, "yyyyyy")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="uniquely key"):
        ngram_jaccard_pairs(docs, pairs)
    ok = ngram_jaccard_pairs(docs.where("doc_id != 1 OR text LIKE '%h'"),
                             pairs).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in ok] == [(1, 2, 1.0)]


def test_ensure_parallelism_skips_exchange_plans(spark):
    """r7 review regression: the spread guard must return exchange-
    bearing plans UNTOUCHED (probing .rdd under AQE would execute the
    upstream shuffle as a hidden job) and must spread an under-parallel
    exchange-free input."""
    from rag_pdf_parser_spark.operators.spread import ensure_parallelism

    shuffled = (spark.range(100).groupBy((F.col("id") % 7).alias("k"))
                .count())
    assert ensure_parallelism(shuffled) is shuffled
    narrow = spark.range(50).coalesce(1)
    spread = ensure_parallelism(narrow)
    assert spread.rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism


def test_ensure_parallelism_ignores_exchange_in_scan_path(spark):
    """The guard looks for Exchange plan NODES: a one-file parquet under a
    directory whose name contains "Exchange" is still an exchange-free
    scan and must be spread like the same file anywhere else. (A short
    temp dir keeps the name inside the plan text's 100-char location.)"""
    import tempfile

    from rag_pdf_parser_spark.operators.spread import ensure_parallelism

    target = spark.sparkContext.defaultParallelism
    with tempfile.TemporaryDirectory() as tmp:
        for name in ("Exchange_rates", "plain"):
            path = os.path.join(tmp, name)
            spark.range(200).coalesce(1).write.parquet(path)
            df = spark.read.parquet(path)
            assert df.rdd.getNumPartitions() == 1
            assert ensure_parallelism(df).rdd.getNumPartitions() == target, \
                name


def test_ensure_parallelism_starts_no_job_on_shuffled_input(spark):
    """A shuffled input, and the same input cached, come back untouched —
    and deciding so runs no Spark job (the plan walk never calls .rdd)."""
    from rag_pdf_parser_spark.operators.spread import ensure_parallelism

    sc = spark.sparkContext
    shuffled = (spark.range(100).groupBy((F.col("id") % 7).alias("k"))
                .count())
    cached = shuffled.groupBy("k").count().cache()
    cached.count()
    try:
        sc.setJobGroup("spread-probe", "ensure_parallelism job probe")
        for df in (shuffled, cached):
            assert ensure_parallelism(df) is df
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup("spread-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        cached.unpersist()


def test_connected_components_fast_path_plans_local_scan(spark):
    """The union-find result is built from Arrow: it plans as a
    LocalTableScan, not an ExistingRDD scan that re-runs Python."""
    from rag_pdf_parser_spark.operators.dedup import connected_components
    from rag_pdf_parser_spark.operators.spread import plan_nodes

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "id_a long, id_b long")
    comp = connected_components(pairs)
    names = [n.nodeName() for n in plan_nodes(comp)]
    assert "LocalTableScan" in names, names
    assert not any("ExistingRDD" in n for n in names), names
    assert sorted(map(tuple, comp.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]

def test_decontaminate_respects_n(spark):
    """Regression: decontamination matches at 13-gram granularity (a doc
    holding only 12 of a benchmark 13-gram's tokens is clean), and the
    gram builder's n threads through to gram construction."""
    from rag_pdf_parser_spark.operators.dedup import (decontaminate_flags,
                                                      token_ngrams_expr)

    w = [f"w{i}" for i in range(16)]
    docs = spark.createDataFrame(
        [(1, " ".join(w[0:15])), (2, " ".join(w[1:16])),
         (3, " ".join(w[1:13])), (4, "totally different words here")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(" ".join(w[1:14]),)], "gram string")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate_flags(docs, bench).collect()}
    assert got == {1: (1, True), 2: (1, True), 3: (0, False),
                   4: (0, False)}, got
    # and the gram builder itself at n=2
    grams = spark.createDataFrame([("a b c",)], "text string").select(
        token_ngrams_expr(F.col("text"), 2).alias("g")).collect()[0]["g"]
    assert grams == ["a b", "b c"], grams


def test_decontaminate_hashed_path_matches_string_path(spark):
    """r3 verdict #4: the int64-hashed corpus-scale formulation must produce
    the same (n_hits, contaminated) as the exact string formulation —
    verified over the sf0.01 documents table with a benchmark set built
    from real document grams (so both hit and miss cases occur)."""
    from rag_pdf_parser_spark.operators.dedup import (
        decontaminate_flags,
        token_ngrams_expr,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .select("doc_id", "text")
    # benchmark: 13-grams of every 7th doc + some synthetic never-match grams
    bench = docs.where(F.col("doc_id") % 7 == 0).select(
        F.explode(token_ngrams_expr(F.col("text"), 13)).alias("gram")
    ).limit(200).union(spark.createDataFrame(
        [(f"no such gram sequence {i} exists anywhere",) for i in range(5)],
        "gram string"))
    bench = bench.localCheckpoint(eager=True)  # freeze the limit() sample

    cols = ["doc_id", "n_hits", "contaminated"]
    a = decontaminate_flags(docs, bench, hashed=False).select(*cols)
    b = decontaminate_flags(docs, bench, hashed=True).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.where("contaminated").count() > 0  # the test actually bites


def test_minhash_word_shingles_lee_config(spark, docs_df):
    """Word n-gram MinHash (Lee et al. 2022-style config: word 5-grams) —
    the family of BASE near-dups must be recalled as candidate pairs, and
    unique docs must not pair with the family, in BOTH hash flavors."""
    fam = [f"d{i:02d}" for i in range(6)]
    for flavor in ("xx", "sha"):
        pairs = {(r["id_a"], r["id_b"])
                 for r in lsh_candidate_pairs(
                     docs_df, n=5, num_perm=8, bands=4, flavor=flavor,
                     shingle="word").collect()}
        found = sum((a, b) in pairs
                    for i, a in enumerate(fam) for b in fam[i + 1:])
        assert found >= 12, (flavor, sorted(pairs))
        for a, b in pairs:
            assert a in fam and b in fam, (flavor, a, b)


def test_simhash_near_dup_pairs_banded(spark, docs_df):
    """Manku banded blocking: near-identical docs land in a shared 16-bit
    band and pass the exact hamming verify; unrelated docs never pair.
    Pigeonhole recall: any pair within hamming <= bands-1 MUST be found —
    checked against the O(n²) reference computed from the fingerprints."""
    from rag_pdf_parser_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    got = {(r["id_a"], r["id_b"])
           for r in simhash_near_dup_pairs(docs_df).collect()}
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs_df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    ids = sorted(fps)
    expect = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
              if ham(fps[a], fps[b]) <= 3}
    assert got == expect, (sorted(got - expect), sorted(expect - got))
    assert ("d00", "d01") in got  # identical docs: distance 0


def test_url_filter_gate(spark):
    """Domain blocklist covers subdomains (suffix-chain semi-join);
    patterns flag asset/login/session urls."""
    from rag_pdf_parser_spark.operators.urlfilter import (
        filter_urls,
        url_host_expr,
    )

    rows = [
        (1, "https://ads.tracker.example/page"),       # subdomain block
        (2, "https://tracker.example/page"),           # exact domain block
        (3, "https://nottracker.example/page"),        # NOT a suffix match
        (4, "https://ok.site.org/a/img.JPG"),          # extension pattern
        (5, "http://u:p@ok.site.org:8080/login"),      # userinfo+port, login
        (6, "https://ok.site.org/fine?sid=x"),         # session param
        (7, "https://ok.site.org/clean/page"),         # passes
        (8, "ok.site.org/no-scheme/login/x"),          # scheme-less
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = spark.createDataFrame([("tracker.example",)], "host string")
    got = {r["doc_id"]: (r["url_blocked"], r["block_reason"])
           for r in filter_urls(docs, blocked).collect()}
    assert got == {1: (True, "domain"), 2: (True, "domain"),
                   3: (False, None), 4: (True, "pattern"),
                   5: (True, "pattern"), 6: (True, "pattern"),
                   7: (False, None), 8: (True, "pattern")}, got
    # host extraction
    h = docs.where(F.col("doc_id") == 5).select(
        url_host_expr(F.col("url")).alias("h")).collect()[0]["h"]
    assert h == "ok.site.org"

    # r4 review findings: mixed-case/untrimmed blocklist entries must still
    # match (real blocklist files carry both), and a NULL url must pass
    # through unblocked — not vanish from both branches as url_blocked=NULL
    messy = spark.createDataFrame([("  Tracker.EXAMPLE ",)], "host string")
    got2 = {r["doc_id"]: r["url_blocked"]
            for r in filter_urls(docs, messy).collect()}
    assert got2[1] and got2[2] and not got2[3], got2

    # trailing-dot (fully-qualified) hosts are the same origin and must not
    # evade the blocklist; blank blocklist lines must not match anything
    tricky = spark.createDataFrame(
        [(10, "https://ads.tracker.example./x"),
         (11, "https://clean.example/x"),
         (12, "/relative/only/path")],
        "doc_id long, url string")
    noisy_list = spark.createDataFrame(
        [("tracker.example",), ("   ",), ("",)], "host string")
    got3 = {r["doc_id"]: r["url_blocked"]
            for r in filter_urls(tricky, noisy_list).collect()}
    assert got3 == {10: True, 11: False, 12: False}, got3
    with_null = spark.createDataFrame(
        [(1, "https://ok.site.org/x"), (2, None)], "doc_id long, url string")
    gotn = {r["doc_id"]: r["url_blocked"]
            for r in filter_urls(with_null, blocked).collect()}
    assert gotn == {1: False, 2: False}, gotn

    # ADVICE r4: an exact-host blocklist entry DEEPER than MAX_HOST_LABELS
    # must still match (the capped chain used to drop the full host); its
    # subdomains beyond the cap need not, but the capped suffixes still do
    deep_host = "a.b.c.d.e.f.g.example"      # 8 labels > cap of 6
    deep = spark.createDataFrame(
        [(20, f"https://{deep_host}/x"),      # exact deep host
         (21, f"https://www.{deep_host}/x"),  # 9 labels, suffix is capped out
         (22, "https://g.example/x")],
        "doc_id long, url string")
    deep_list = spark.createDataFrame([(deep_host,)], "host string")
    got4 = {r["doc_id"]: r["url_blocked"]
            for r in filter_urls(deep, deep_list).collect()}
    assert got4 == {20: True, 21: False, 22: False}, got4

    # scale shape: the domain gate is per-depth BROADCAST probes — no
    # Generate, no join-back, zero Exchange of the corpus regardless of hit
    # density (the r4 explode+join-back form shuffled on url when the hit
    # set outgrew broadcast)
    plan = filter_urls(docs, blocked)._jdf.queryExecution().executedPlan() \
        .toString()
    # the only permitted exchange is the blocklist-side distinct() (tiny,
    # inside the broadcast build) — the CORPUS is never hash-exchanged
    ex_lines = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert all("host#" in ln for ln in ex_lines), plan
    assert "Generate" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 7, plan
    # the blocklist is BUILT AND BROADCAST ONCE: AQE canonicalizes the 7
    # per-depth build sides and reuses one broadcast stage for the rest
    # (visible only in the executed final plan, not the static one)
    executed = filter_urls(docs, blocked)
    executed.collect()
    final = executed._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 6, final.count("Reused")


def test_dedup_corpus_end_to_end(spark, docs_df):
    """One-call near-dedup recipe: exact triplet collapses to its min id,
    verified near-dups (Jaccard >= threshold) collapse to one canonical,
    low-similarity LSH collisions survive the Jaccard verify, unique docs
    pass untouched."""
    from rag_pdf_parser_spark.operators.dedup import dedup_corpus

    out = dedup_corpus(docs_df)
    kept = sorted(r["doc_id"] for r in out.collect())
    # d00/d01/d02 identical → d00; d03/d04/d05 are one-word variants of
    # BASE (jaccard >> 0.8 vs d00) → absorbed into d00's component;
    # d06..d19 unique → all kept
    assert kept == ["d00"] + [f"d{i:02d}" for i in range(6, 20)], kept

    # columns preserved
    assert set(out.columns) == {"doc_id", "text"}


def test_curate_corpus_funnel(spark):
    """Composed curation plan: per-stage funnel accounting is sequential
    and exact, gates drop the crafted offenders, near-dedup collapses the
    surviving duplicate pair."""
    import random

    from rag_pdf_parser_spark.kernel.twins import quality_model_score
    from rag_pdf_parser_spark.plans.curate import (
        curate_corpus,
        curation_funnel,
        flag_corpus,
    )

    rng = random.Random(3)
    words = [f"{'abcdefghijklmnop'[rng.randrange(16)]}word{i}"
             for i in range(70)]
    good = " ".join(words) + "."
    rows = [
        (1, "https://spam.example/x", good),              # url gate
        (2, "https://ok.example/a", "too short"),         # gopher gate
        # passes gopher (top-bigram COUNT frac 8/75 < 0.2, word stats ok)
        # but fails the repetition CHAR-fraction gate: the repeated bigram
        # is built of LONG words, so 8×37 of ~720 chars ≈ 0.41 > 0.20
        (3, "https://ok.example/b",
         " ".join(words[:60]) + " "
         + " ".join(["x" * 18, "y" * 18] * 8) + "."),     # repetition gate
        (4, "https://ok.example/c", good),                # passes
        (5, "https://ok.example/d", good),                # exact dup of 4
        (6, "https://ok.example/e",
         good.replace("word10", "changed10")),            # near-dup of 4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    blocked = spark.createDataFrame([("spam.example",)], "host string")

    flagged = flag_corpus(docs, blocked)
    got = {r["doc_id"]: r for r in flagged.collect()}
    assert not got[1]["url_ok"] and got[4]["url_ok"]
    assert not got[2]["gopher_keep"] and got[4]["gopher_keep"]
    assert not got[3]["repetition_keep"] and got[4]["repetition_keep"]
    # the pseudo-model's verdict on the good text, pinned via the twin
    expect_keep = quality_model_score(good) > 0
    assert got[4]["model_keep"] == expect_keep

    funnel = curation_funnel(flagged)
    assert funnel["n_input"] == 6
    assert funnel["drop_url"] == 1
    assert funnel["drop_gopher"] == 1      # doc 2 (doc 1 already gone)
    assert funnel["drop_repetition"] == 1  # doc 3 (passed gopher first)
    parts = (funnel["drop_url"] + funnel["drop_gopher"]
             + funnel["drop_repetition"] + funnel["drop_model"]
             + funnel["n_pass"])
    assert parts == funnel["n_input"]  # sequential accounting is exact

    # r4 review findings: NULL text and empty corpora must keep the funnel
    # exact (no NULL flags leaking into pass_all, no int(None) crash)
    empty = spark.createDataFrame([], "doc_id long, url string, text string")
    fz = curation_funnel(flag_corpus(empty, blocked))
    assert fz == {"n_input": 0, "drop_url": 0, "drop_gopher": 0,
                  "drop_repetition": 0, "drop_model": 0, "n_pass": 0}, fz
    withnull = spark.createDataFrame(
        [(9, "https://ok.example/z", None)],
        "doc_id long, url string, text string")
    fn = curation_funnel(flag_corpus(withnull, blocked))
    assert fn["n_input"] == 1 and fn["drop_gopher"] == 1, fn

    if expect_keep:  # docs 4/5/6 reach dedup: exact 5→4, near 6→4
        kept = sorted(r["doc_id"] for r in
                      curate_corpus(docs, blocked).collect())
        assert kept == [4], kept
        kept_nd = sorted(r["doc_id"] for r in
                         curate_corpus(docs, blocked, dedup=False).collect())
        assert kept_nd == [4, 5, 6], kept_nd


def test_curate_corpus_incremental_end_to_end(spark, tmp_path):
    """Daily-increment entrypoint: gates → funnel → incremental dedup
    against the persisted index; the extended funnel stays exact
    (n_input = gate drops + drop_dedup + n_admitted) across batches, and
    the canonical corpus accumulates without re-admitting near-dups."""
    import random

    from rag_pdf_parser_spark.kernel.twins import quality_model_score
    from rag_pdf_parser_spark.plans.curate import curate_corpus_incremental

    def good(seed):
        rng = random.Random(seed)
        words = [f"{'abcdefghijklmnop'[rng.randrange(16)]}word{i}"
                 for i in range(70)]
        return " ".join(words) + "."

    g1, g2, g3 = good(0), good(1), good(2)  # all pass the pseudo-model
    assert all(quality_model_score(t) > 0 for t in (g1, g2, g3))
    blocked = spark.createDataFrame([("spam.example",)], "host string")
    store = str(tmp_path / "idx")
    canon = str(tmp_path / "canon")

    A = spark.createDataFrame(
        [("a0", "https://spam.example/x", g1),   # url gate
         ("a1", "https://ok.example/a", "too short"),  # gopher gate
         ("a2", "https://ok.example/b", g1),     # admitted
         ("a3", "https://ok.example/c", g1),     # exact dup of a2 → dedup
         ("a4", "https://ok.example/d", g2)],    # admitted
        "doc_id string, url string, text string")
    adm_a, fa = curate_corpus_incremental(A, store, canon, blocked)
    assert fa["n_input"] == 5 and fa["drop_url"] == 1 \
        and fa["drop_gopher"] == 1, fa
    assert fa["drop_dedup"] == 1 and fa["n_admitted"] == 2, fa
    assert sorted(r["doc_id"] for r in adm_a.collect()) == ["a2", "a4"]

    B = spark.createDataFrame(
        [("b0", "https://ok.example/e", g1.replace("word10", "other10")),
         ("b1", "https://ok.example/f", g3)],
        "doc_id string, url string, text string")
    adm_b, fb = curate_corpus_incremental(B, store, canon, blocked)
    # b0 is a near-dup of the ACCUMULATED corpus (a2, admitted last batch)
    assert fb["n_pass"] == 2 and fb["drop_dedup"] == 1 \
        and fb["n_admitted"] == 1, fb
    assert [r["doc_id"] for r in adm_b.collect()] == ["b1"]
    assert sorted(r["doc_id"]
                  for r in spark.read.parquet(canon).collect()) \
        == ["a2", "a4", "b1"]

    # retry of B (resume path): b1 is counted as ALREADY-ADMITTED, not as
    # a near-dup drop — the funnel distinguishes the two (review finding:
    # conflating them told an operator a retried batch was all duplicates)
    adm_b2, fb2 = curate_corpus_incremental(B, store, canon, blocked)
    assert adm_b2.count() == 0
    assert fb2["drop_already_admitted"] == 1 and fb2["drop_dedup"] == 1 \
        and fb2["n_admitted"] == 0, fb2
    assert spark.read.parquet(canon).count() == 3  # nothing re-appended

    for f in (fa, fb, fb2):
        drops = (f["drop_url"] + f["drop_gopher"] + f["drop_repetition"]
                 + f["drop_model"] + f["drop_already_admitted"]
                 + f["drop_dedup"])
        assert f["n_input"] == drops + f["n_admitted"], f


def test_domain_stats_triage_table(spark):
    """Per-domain triage: registrable-domain grouping (subdomains fold into
    their domain), char totals, gopher and pattern counts; NULL url/text
    rows keep a row under the '' domain."""
    from rag_pdf_parser_spark.operators.urlfilter import domain_stats

    long_good = " ".join(f"w{i}x" for i in range(60)) + "."
    rows = [
        (1, "https://a.shop.example/x", long_good),
        (2, "https://b.shop.example/y/img.jpg", "short"),
        (3, "https://shop.example/z", "tiny"),
        (4, "https://other.org/p", long_good),
        (5, None, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["domain"]: r.asDict() for r in domain_stats(docs).collect()}
    se = got["shop.example"]
    assert se["n_docs"] == 3
    assert se["total_chars"] == len(long_good) + len("short") + len("tiny")
    assert se["n_gopher_keep"] == 1      # only doc 1 passes the word gate
    assert se["n_pattern_flagged"] == 1  # doc 2's .jpg
    assert got["other.org"]["n_docs"] == 1
    assert got["other.org"]["n_gopher_keep"] == 1
    assert got[""]["n_docs"] == 1 and got[""]["total_chars"] == 0


def test_dedup_corpus_incremental_store(spark, tmp_path, docs_df,
                                        monkeypatch):
    """r4 verdict #4: incremental dedup against a persisted bucket index —
    batch A then batch B yields the same canonical set as one run over
    A∪B; B's store lookup reads ONLY its bp partitions (plan-asserted);
    a mismatched signature config is rejected loudly."""
    from rag_pdf_parser_spark.operators.dedup import (
        dedup_corpus,
        dedup_corpus_incremental,
    )

    rows = sorted(docs_df.collect(), key=lambda r: r["doc_id"])
    a_rows = [(r["doc_id"], r["text"]) for r in rows[:12]]   # d00..d11
    # batch B: exact dup of d06, near-dup of d00's family, fresh docs
    b_rows = [("e00", rows[6]["text"]),
              ("e01", rows[3]["text"].replace("word10", "other10")),
              ("e02", "a completely fresh document about turbines and "
                      "impellers spinning in laminar flow for many words"),
              ("e03", "a completely fresh document about turbines and "
                      "impellers spinning in laminar flow for many words"),
              ("e04", "unrelated second fresh text with entirely distinct "
                      "vocabulary tokens nothing shared across batches")]
    A = spark.createDataFrame(a_rows, "doc_id string, text string")
    B = spark.createDataFrame(b_rows, "doc_id string, text string")

    one_shot = sorted(r["doc_id"] for r in
                      dedup_corpus(A.unionByName(B)).collect())

    store = str(tmp_path / "lsh_index")
    canon = str(tmp_path / "canon")
    adm_a = sorted(r["doc_id"] for r in
                   dedup_corpus_incremental(A, store, canon).collect())
    assert adm_a == sorted(r["doc_id"] for r in dedup_corpus(A).collect())
    adm_b = sorted(r["doc_id"] for r in
                   dedup_corpus_incremental(B, store, canon).collect())
    got = sorted(r["doc_id"]
                 for r in spark.read.parquet(canon).collect())
    assert got == sorted(adm_a + adm_b)
    assert got == one_shot, (got, one_shot)
    # the dup/near-dup of batch B were rejected, the fresh pair collapsed
    assert "e00" not in adm_b and "e01" not in adm_b
    assert "e02" in adm_b and "e03" not in adm_b and "e04" in adm_b

    # store invariant: the store rows are exactly the (band, bucket, id,
    # bp) rows of the canonical docs — every admitted doc is indexed, and
    # no dropped doc is
    from rag_pdf_parser_spark.operators.dedup import lsh_buckets
    from rag_pdf_parser_spark.streaming.minhash import (
        read_store_meta,
        store_partition_expr,
    )
    n_parts = read_store_meta(store)["store_partitions"]
    cols = ["band", "bucket", "id", "bp"]
    want = sorted(tuple(r) for r in lsh_buckets(
        spark.read.parquet(canon), "doc_id", "text", num_perm=32, bands=8)
        .withColumn("bp", store_partition_expr(F.col("band"),
                                               F.col("bucket"), n_parts))
        .select(*cols).collect())
    indexed = sorted(tuple(r) for r in
                     spark.read.parquet(store).select(*cols).collect())
    assert indexed == want
    assert {r[2] for r in indexed} == set(got)

    # store layout: bp partitions + meta with the signature config
    import os
    assert any(d.startswith("bp=") for d in os.listdir(store))
    from rag_pdf_parser_spark.streaming.minhash import read_store_meta
    meta = read_store_meta(store)
    assert meta["lsh_n"] == 5 and meta["lsh_shingle"] == "char"

    # pruned lookup: the store read for a batch's bps carries a
    # PartitionFilter — orphan partitions' files never open
    from rag_pdf_parser_spark.streaming.minhash import read_store_pruned
    plan = read_store_pruned(spark, store, [0, 1])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and \
        "bp" in plan.split("PartitionFilters")[1].split("]")[0], plan

    # config drift is rejected, not silently incomparable: a store whose
    # meta records another signature config is refused
    from rag_pdf_parser_spark.streaming.minhash import write_store_meta
    write_store_meta(store, n_parts, extra={"lsh_n": 7})
    with pytest.raises(ValueError, match="incomparable"):
        dedup_corpus_incremental(B, store, canon)
    write_store_meta(store, n_parts, extra={"lsh_n": 5})

    # retry of a COMPLETED increment is a no-op (resume semantics: ids
    # already canonical are anti-joined out — no duplicate canon rows)
    assert dedup_corpus_incremental(B, store, canon).count() == 0
    canon_now = spark.read.parquet(canon)
    assert canon_now.count() == canon_now.select("doc_id").distinct().count()
    assert canon_now.count() == len(one_shot)

    # crash-retry: a crashed attempt appended f00's bucket rows (buckets
    # are written BEFORE canon — the crash-safe order) but never published
    # its text. The orphan rows are self-collisions only: they must not
    # reach the verify, nor block f00's own re-admission.
    from rag_pdf_parser_spark.operators import dedup as dd
    from rag_pdf_parser_spark.streaming import minhash

    C = spark.createDataFrame(
        [("f00", "an orphaned crash survivor document with plenty of "
                 "novel words describing centrifuges and flywheels")],
        "doc_id string, text string")
    orphans = minhash.store_buckets(C, "doc_id", "text", n_parts) \
        .select(*cols)
    orphans.write.mode("append").partitionBy("bp").parquet(store)
    computed, verified = [], []
    real_buckets, real_verify = minhash.store_buckets, dd.ngram_jaccard_pairs

    def recorded_buckets(*a, **k):
        computed.append(real_buckets(*a, **k))
        return computed[-1]

    def recorded_verify(df, pairs, *a, **k):
        verified.extend(tuple(r) for r in pairs.collect())
        return real_verify(df, pairs, *a, **k)

    monkeypatch.setattr(minhash, "store_buckets", recorded_buckets)
    monkeypatch.setattr(dd, "ngram_jaccard_pairs", recorded_verify)
    adm_c = sorted(r["doc_id"] for r in
                   dedup_corpus_incremental(C, store, canon).collect())
    monkeypatch.undo()
    # precondition: the orphans are exactly the bucket rows f00's admit
    # computes, so each of f00's buckets meets its own orphan in the probe
    assert sorted(tuple(r) for r in computed[0].select(*cols).collect()) \
        == sorted(tuple(r) for r in orphans.collect())
    assert ("f00", "f00") not in verified, verified
    assert adm_c == ["f00"], adm_c
    assert spark.read.parquet(canon).where(
        F.col("doc_id") == "f00").count() == 1

    # a within-batch near-dup whose canonical the store rejects stays out:
    # a00 ~ stored d07 (and a00 < d07, so folding the store pair into the
    # component pass would wrongly keep a00), a01 ~ a00 but not ~ d07
    words = rows[7]["text"].split(" ")
    a00 = words[:4] + ["zzqqxxww"] + words[5:]
    a01 = a00[:15] + ["kkvvjjyy"] + a00[16:25] + ["mmppttrr"] + a00[26:]
    D = spark.createDataFrame(
        [("a00", " ".join(a00)), ("a01", " ".join(a01)),
         ("a02", "yet another novel text about glaciers calving into "
                 "fjords under a pale arctic summer sun")],
        "doc_id string, text string")
    adm_d = sorted(r["doc_id"] for r in
                   dedup_corpus_incremental(D, store, canon).collect())
    assert adm_d == ["a02"], adm_d

    # the writer lease guards the increment too (concurrent increments
    # would both probe before either appends)
    from rag_pdf_parser_spark.plans.lease import LeaseHeldError, WriterLease
    holder = WriterLease(str(tmp_path)).acquire()
    with pytest.raises(LeaseHeldError):
        dedup_corpus_incremental(C, store, canon)
    holder.release()


def test_incremental_admit_computes_signature_once(spark, tmp_path,
                                                   docs_df, monkeypatch):
    """One admit builds its MinHash bucket table once: the within-batch
    pairs, the store probe and the store append all read it — on the
    first batch (no store) and on a probing one."""
    from rag_pdf_parser_spark.operators import dedup as dd

    calls = []
    real = dd.lsh_buckets

    def counted(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(dd, "lsh_buckets", counted)
    store, canon = str(tmp_path / "lsh"), str(tmp_path / "canon")
    a = docs_df.where(F.col("doc_id") < "d10")
    b = docs_df.where(F.col("doc_id") >= "d10")
    for batch in (a, b):
        calls.clear()
        dd.dedup_corpus_incremental(batch, store, canon)
        assert len(calls) == 1, len(calls)


def test_flag_corpus_tokenizes_once_bit_identical(spark):
    """r4 verdict #2: the composed funnel stages ONE raw split + ONE
    lowercase transform + ONE bigram step shared by all three text gates.
    (a) every flag and stat column is bit-identical to the standalone
    gates run independently (incl. Unicode-whitespace adversaries);
    (b) the optimized plan carries the one shared bigram zip_with, one
    repetition-kernel Arrow stage, and no second tokenization."""
    from rag_pdf_parser_spark.operators.spread import plan_nodes
    from rag_pdf_parser_spark.functions import (
        gopher_features_expr,
        with_quality_model,
        with_repetition_features,
    )
    from rag_pdf_parser_spark.plans.curate import flag_corpus

    rows = [
        (1, "https://ok.example/a",
         "Plain good text with Mixed CASE words and more words here."),
        (2, "https://ok.example/b", None),
        (3, "https://ok.example/c", ""),
        (4, "https://ok.example/d", "\xa0leading NBSP　and​zero "
         "width ÉÀ ünïcode Wörds"),
        (5, "https://ok.example/e", ("repeat me " * 40) + "end."),
        (6, "https://ok.example/f", "line one\n\nline two\n\nline one\n\n"
         "symbols ### ... … {code}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")

    composed = flag_corpus(docs)
    # the pre-refactor composition: each gate tokenizes for itself
    solo = docs.withColumn("url_ok", F.lit(True))
    solo = solo.withColumn(
        "gopher_keep",
        gopher_features_expr(F.coalesce(F.col("text"),
                                        F.lit("")))["gopher_keep"])
    solo = with_repetition_features(solo)
    solo = with_quality_model(solo, "text")
    solo = solo.withColumn(
        "pass_all", F.col("url_ok") & F.col("gopher_keep")
        & F.col("repetition_keep") & F.col("model_keep"))

    assert set(composed.columns) == set(solo.columns)
    a = {r["doc_id"]: r.asDict() for r in composed.collect()}
    b = {r["doc_id"]: r.asDict() for r in solo.collect()}
    assert a == b, {k: (a[k], b[k]) for k in a if a[k] != b[k]}

    plan = composed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with") == 1, plan.count("zip_with")
    arrow = [n.toString() for n in plan_nodes(composed)
             if n.nodeName() == "MapInArrow"]
    assert len(arrow) == 1 and "repetition_row" in arrow[0], arrow
    # no gate re-tokenizes: the normalized-TEXT split (the standalone
    # repetition/quality tokenizer) must be absent — the staged lowercase
    # transform of the single raw split replaces it (the url-host expr is
    # allowed to lowercase the URL column)
    assert "regexp_replace(lower(text" not in plan
    assert plan.count("split(trim(") == 1, plan.count("split(trim(")


def test_repetition_features_known_values(spark):
    """Hand-computed Gopher repetition stats on constructed docs."""
    from rag_pdf_parser_spark.functions import with_repetition_features
    from rag_pdf_parser_spark.operators.spread import plan_nodes

    # doc 1: "ab cd " ×4 → top bigram 'ab cd' count 4, len 5 → 20/24 chars
    t1 = "ab cd ab cd ab cd ab cd"
    # doc 2: no repetition at all (short tokens so even the count-1 "top"
    # gram covers few chars)
    t2 = "aa bb cc dd ee ff gg hh ii jj"
    # doc 3: duplicate paragraphs
    t3 = "para one here\n\npara one here\n\nunique tail"
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3), (4, None)], "doc_id long, text string")
    out = with_repetition_features(df).drop("text")
    got = {r["doc_id"]: r for r in out.collect()}

    # NULL text behaves as empty: all fractions 0, keep true (a NULL keep
    # would vanish from both branches of a gate — r4 review finding)
    assert got[4]["top_2gram_char_frac"] == 0.0
    assert got[4]["dup_para_frac"] == 0.0 and got[4]["repetition_keep"]

    # the n-grams are counted in the one repetition-kernel Arrow stage:
    # no gram array is built in the JVM, and the text is split once
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with") == 0, plan.count("zip_with")
    assert plan.count("split(trim(") == 1, plan.count("split(trim(")
    arrow = [n.toString() for n in plan_nodes(out)
             if n.nodeName() == "MapInArrow"]
    assert len(arrow) == 1 and "repetition_row" in arrow[0], arrow

    # t1: len=23 chars; bigrams: 'ab cd'(4) 'cd ab'(3); top = 4*5=20/23
    assert got[1]["top_2gram_char_frac"] == pytest.approx(20 / 23, abs=1e-6)
    assert not got[1]["repetition_keep"]
    # 5-grams of t1: 'ab cd ab cd ab'(2), 'cd ab cd ab cd'(2) → dup chars
    # = (2-1)*14 *2 = 28 → capped ratio 28/23 → 1.0
    assert got[1]["dup_5gram_char_frac"] == 1.0
    # all bigrams occur once; tie → lexicographically smallest ('aa bb',
    # 5 chars of 29)
    assert got[2]["top_2gram_char_frac"] == pytest.approx(5 / 29, abs=1e-6)
    assert got[2]["dup_5gram_char_frac"] == 0.0
    assert got[2]["dup_para_frac"] == 0.0
    # t3: 3 paragraphs, one duplicated once → dup_para_frac = 1/3;
    # dup chars = 13 of 41 total chars
    assert got[3]["dup_para_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[3]["dup_para_char_frac"] == pytest.approx(13 / 41, abs=1e-6)
    assert not got[3]["repetition_keep"]  # 1/3 > 0.30


def test_quality_model_bit_exact_vs_twin(spark):
    """Hashed linear quality classifier: Spark fold == pure-Python twin
    BIT-exactly (no rounding needed — literal weights, IEEE-deterministic
    order); empty text scores exactly the bias; bigrams affect the score
    (word order matters, unlike a pure bag of unigrams)."""
    from rag_pdf_parser_spark.functions import (
        quality_model_weights,
        with_quality_model,
    )
    from rag_pdf_parser_spark.kernel.twins import quality_model_score

    texts = ["the quick brown fox", "fox brown quick the", "", "   ",
             "Mixed CASE text\twith\ttabs", "one", None]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    out = with_quality_model(df)
    got = {r["i"]: (r["score_lin"], r["quality_p"], r["model_keep"])
           for r in out.collect()}
    _, bias = quality_model_weights()
    for i, t in enumerate(texts):
        assert got[i][0] == quality_model_score(t), (i, t)  # bit-exact
        assert 0.0 < got[i][1] < 1.0
        assert got[i][2] == (got[i][0] > 0)
    # empty / whitespace-only / NULL text all score exactly the bias, with
    # NON-null keep (a NULL keep would vanish from both gate branches)
    assert got[2][0] == bias and got[3][0] == bias and got[6][0] == bias
    assert got[6][2] is not None
    # word order changes bigram features, hence the score
    assert got[0][0] != got[1][0]
    # single-fold plan: score computed once, sigmoid/keep derived from the
    # attribute (the one aggregate belongs to the fold)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") <= 1, plan.count("aggregate(")


def test_minhash_word_signature_properties(spark):
    """Word-shingle signatures: identical token streams (independent of
    whitespace/case) share signatures; empty docs keep a signature row;
    invalid shingle kind raises."""
    from rag_pdf_parser_spark.operators.dedup import minhash_signature

    docs = spark.createDataFrame(
        [("a", "Alpha  beta\tGAMMA delta epsilon zeta"),
         ("b", "alpha beta gamma delta epsilon zeta"),
         ("c", "entirely other words live in this one"),
         ("d", "")],
        "doc_id string, text string")
    for flavor in ("xx", "sha"):
        sig = {r["doc_id"]: tuple(r[f"mh{j}"] for j in range(4))
               for r in minhash_signature(docs, num_perm=4, flavor=flavor,
                                          n=3, shingle="word").collect()}
        assert len(sig) == 4  # empty doc still present
        assert sig["a"] == sig["b"], flavor
        assert sig["a"] != sig["c"], flavor
    with pytest.raises(ValueError, match="char.*word"):
        minhash_signature(docs, shingle="sentence").collect()
    # r4 review finding: the gram fold must appear ONCE in the optimized
    # plan — the old when(size>0) guard duplicated the whole O(n·tokens)
    # fold (predicate + then-branch are not subexpression-eliminated)
    plan = minhash_signature(docs, num_perm=4, n=5, shingle="word") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with") <= 4, plan.count("zip_with")


def test_incremental_first_batch_crash_retry(spark, tmp_path):
    """ADVICE r5 (medium): the FIRST-ever batch crashed between the bucket
    append and the canon append — the store has bp= partitions but
    canon_dir does not exist. The retry must not dead-end on the canon
    read (PATH_NOT_FOUND): all store rows are orphans whose collisions are
    inert, so the probe branch is skipped and the batch admitted once."""
    import os

    from rag_pdf_parser_spark.operators.dedup import (
        dedup_corpus_incremental,
        lsh_buckets,
    )
    from rag_pdf_parser_spark.streaming.minhash import (
        STORE_PARTITIONS,
        store_partition_expr,
        write_store_meta,
    )

    store = str(tmp_path / "idx")
    canon = str(tmp_path / "canon")
    first = spark.createDataFrame(
        [("a0", "a first ever batch document with plenty of words about "
                "turbines and impellers spinning in laminar flow"),
         ("a1", "another unrelated first batch text holding entirely "
                "distinct vocabulary tokens across the board")],
        "doc_id string, text string")
    # simulate the crash window: buckets written (the crash-safe FIRST
    # append), canon never created
    write_store_meta(store, STORE_PARTITIONS,
                     extra={"lsh_n": 5, "lsh_num_perm": 32, "lsh_bands": 8,
                            "lsh_shingle": "char"})
    (lsh_buckets(first, "doc_id", "text", num_perm=32, bands=8)
     .withColumn("bp", store_partition_expr(F.col("band"), F.col("bucket"),
                                            STORE_PARTITIONS))
     .select("band", "bucket", "id", "bp")
     .write.mode("append").partitionBy("bp").parquet(store))
    assert not os.path.exists(canon)

    stats: dict = {}
    adm = sorted(r["doc_id"] for r in dedup_corpus_incremental(
        first, store, canon, stats=stats).collect())
    assert adm == ["a0", "a1"], adm
    assert stats == {"n_already_admitted": 0}
    got = spark.read.parquet(canon)
    assert got.count() == 2 == got.select("doc_id").distinct().count()
    # and the completed retry is still a no-op (resume anti-join)
    assert dedup_corpus_incremental(first, store, canon).count() == 0


def test_compact_batch_lsh_store_preserves_owners(spark, tmp_path):
    """r5 verdict #1: two canonical docs legitimately share a bucket below
    the Jaccard threshold. Collapsing the store to one arbitrary owner per
    (band, bucket) would silently re-admit the dropped owner's future
    near-dups forever; `compact_lsh_store` dedups whole (band, bucket, id,
    bp) rows — after it runs, a fresh near-dup of EACH owner is still
    rejected."""
    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental
    from rag_pdf_parser_spark.plans.maintenance import compact_lsh_store
    from rag_pdf_parser_spark.streaming.minhash import read_store_meta

    # J(t1, t2) ≈ 0.56: below the threshold, but high enough that the
    # recipe's r=4 banding puts the pair in a shared bucket
    common = " ".join(f"shared{i} token{i}" for i in range(30))
    t1 = common + " " + " ".join(f"alpha{i} beta{i}" for i in range(10))
    t2 = common + " " + " ".join(f"gamma{i} delta{i}" for i in range(10))
    store = str(tmp_path / "idx")
    canon = str(tmp_path / "canon")
    A = spark.createDataFrame([("x1", t1), ("x2", t2)],
                              "doc_id string, text string")
    adm = sorted(r["doc_id"] for r in
                 dedup_corpus_incremental(A, store, canon).collect())
    assert adm == ["x1", "x2"]  # similar but below threshold: both admitted

    # precondition of the hazard: the two owners REALLY share a bucket
    idx = spark.read.parquet(store)
    shared = (idx.alias("a").join(idx.alias("b"), ["band", "bucket"])
              .where(F.col("a.id") < F.col("b.id")).count())
    assert shared >= 1, "crafted docs no longer co-bucket; adjust texts"

    # grow some genuine append duplication (a crashed retry re-appending
    # the same bucket rows), then compact
    idx_rows = spark.read.parquet(store).localCheckpoint(eager=True)
    idx_rows.write.mode("append").partitionBy("bp").parquet(store)
    before_meta = read_store_meta(store)
    res = compact_lsh_store(spark, store)
    assert res["rows_after"] < res["rows_before"]
    assert read_store_meta(store) == before_meta  # meta rode the swap
    after = spark.read.parquet(store)
    assert after.count() == after.select("band", "bucket", "id") \
        .distinct().count()
    assert after.select("id").distinct().count() == 2  # BOTH owners kept

    # a near-dup of EACH owner is still rejected post-compaction
    B = spark.createDataFrame(
        [("y1", t1.replace("alpha3", "other3")),
         ("y2", t2.replace("gamma3", "newly3"))],
        "doc_id string, text string")
    assert dedup_corpus_incremental(B, store, canon).count() == 0
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(canon).collect()) == ["x1", "x2"]


def test_incremental_funnel_labels_under_lease(spark, tmp_path, monkeypatch):
    """r5 verdict #6: a concurrent increment committing between the
    caller's funnel computation and the dedup lease acquisition must land
    in `drop_already_admitted`, not `drop_dedup` — the count now runs
    INSIDE dedup's leased section against the same canon snapshot the
    resume anti-join reads. Simulated by hooking the lease: the rival's
    canon commit happens just before acquisition succeeds."""
    import random

    from rag_pdf_parser_spark.kernel.twins import quality_model_score
    from rag_pdf_parser_spark.plans.curate import curate_corpus_incremental
    from rag_pdf_parser_spark.plans.lease import WriterLease

    def good(seed):
        rng = random.Random(seed)
        words = [f"{'abcdefghijklmnop'[rng.randrange(16)]}word{i}"
                 for i in range(70)]
        return " ".join(words) + "."

    g1, g2 = good(4), good(5)
    assert all(quality_model_score(t) > 0 for t in (g1, g2))
    store = str(tmp_path / "idx")
    canon = str(tmp_path / "canon")
    rival = spark.createDataFrame([("r0", "https://ok.example/r", g1)],
                                  "doc_id string, url string, text string")

    fired = []
    orig_acquire = WriterLease.acquire

    def hooked(self):
        if not fired:
            fired.append(True)
            rival.write.mode("append").parquet(canon)
        return orig_acquire(self)

    monkeypatch.setattr(WriterLease, "acquire", hooked)
    batch = spark.createDataFrame(
        [("r0", "https://ok.example/r", g1),   # = the rival's commit
         ("b1", "https://ok.example/b", g2)],
        "doc_id string, url string, text string")
    adm, funnel = curate_corpus_incremental(batch, store, canon)
    assert fired, "lease hook never ran"
    assert funnel["drop_already_admitted"] == 1, funnel
    assert funnel["drop_dedup"] == 0, funnel
    assert funnel["n_admitted"] == 1
    assert [r["doc_id"] for r in adm.collect()] == ["b1"]
    drops = (funnel["drop_url"] + funnel["drop_gopher"]
             + funnel["drop_repetition"] + funnel["drop_model"]
             + funnel["drop_already_admitted"] + funnel["drop_dedup"])
    assert funnel["n_input"] == drops + funnel["n_admitted"], funnel


def test_ivf_from_index_bounds_query_collect(spark, tmp_path, monkeypatch):
    """r5 verdict #4: `ivf_topk_from_index` shares `ivf_topk`'s
    MAX_QUERIES contract — exceeding the bound raises the documented
    ValueError instead of collecting an unbounded query side."""
    from rag_pdf_parser_spark.operators import similarity
    from rag_pdf_parser_spark.operators.similarity import (
        ivf_topk_from_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(64)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    cents = write_ivf_index(corpus, path, n_lists=4, sample_n=64)
    queries = corpus.where(F.col("vec_id") < 3)
    monkeypatch.setattr(similarity, "MAX_QUERIES", 2)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        ivf_topk_from_index(spark, path, cents, queries)
    # within the bound the pruned query path still works
    monkeypatch.setattr(similarity, "MAX_QUERIES", 3)
    assert ivf_topk_from_index(spark, path, cents, queries,
                               k=3).count() == 9


def test_psl_registrable_domain(spark):
    """r5 verdict #2: PSL longest-match registrable domains — ccTLD
    subdomains group under their registrable domain instead of collapsing
    into one 'co.uk' row; the PSL default rule handles unknown TLDs; a
    host that IS a public suffix (or shorter) maps to itself; depth-3
    rules (nsw.edu.au) match."""
    from rag_pdf_parser_spark.operators.urlfilter import (
        domain_stats,
        psl_table,
        registrable_domain_expr,
        with_registrable_domain,
    )

    rows = [("a.shop.example.co.uk",), ("b.example.co.uk",),
            ("other.co.uk",), ("co.uk",), ("x.nsw.edu.au",),
            ("deep.a.b.example.com",), ("localhost",), ("",), (None,)]
    df = spark.createDataFrame(rows, "host string")
    got = {r["host"]: r["domain"]
           for r in with_registrable_domain(df, "host",
                                            psl_table(spark)).collect()}
    assert got["a.shop.example.co.uk"] == "example.co.uk"
    assert got["b.example.co.uk"] == "example.co.uk"
    assert got["other.co.uk"] == "other.co.uk"
    assert got["co.uk"] == "co.uk"            # is itself a public suffix
    assert got["x.nsw.edu.au"] == "x.nsw.edu.au"  # depth-3 rule + 1 label
    assert got["deep.a.b.example.com"] == "example.com"  # default rule
    assert got["localhost"] == "localhost"
    assert got[""] == "" and got[None] is None
    # the fixed cut misattributes exactly the rows PSL fixes
    fixed = {r["host"]: r["d2"] for r in df.select(
        "host", registrable_domain_expr(F.col("host")).alias("d2")
    ).collect()}
    assert fixed["a.shop.example.co.uk"] == "co.uk"  # the r5 hazard

    # end to end through domain_stats(psl=): the verdict's grouping proof
    long_good = " ".join(f"w{i}x" for i in range(60)) + "."
    docs = spark.createDataFrame(
        [(1, "https://a.shop.example.co.uk/x", long_good),
         (2, "https://b.shop.example.co.uk/y", long_good),
         (3, "https://news.other.co.uk/z", long_good)],
        "doc_id long, url string, text string")
    stats = {r["domain"]: r["n_docs"] for r in domain_stats(
        docs, psl=psl_table(spark)).collect()}
    assert stats == {"example.co.uk": 2, "other.co.uk": 1}, stats
    no_psl = {r["domain"]: r["n_docs"]
              for r in domain_stats(docs).collect()}
    assert no_psl == {"co.uk": 3}  # the misattribution the PSL removes


def test_psl_probe_depth_follows_supplied_table(spark):
    """The probe depth must come from the CALLER's psl table, not the
    packaged snapshot's PSL_MAX_LABELS: the documented production path
    swaps in the full publicsuffix.org list, whose plain rules reach
    depth 4-5 ('pvt.k12.ma.us'). Capping at the snapshot depth silently
    mis-keys every host under a deeper rule."""
    from rag_pdf_parser_spark.operators.urlfilter import (
        PSL_MAX_LABELS,
        with_registrable_domain,
    )

    deep = spark.createDataFrame(
        [("com",), ("co.uk",), ("pvt.k12.ma.us",)], "suffix string")
    assert deep.select(
        F.max(F.size(F.split("suffix", r"\.")))).first()[0] > PSL_MAX_LABELS
    hosts = spark.createDataFrame(
        [("x.school.pvt.k12.ma.us",), ("school.pvt.k12.ma.us",),
         ("a.example.co.uk",), ("plain.example.com",)], "host string")
    got = {r["host"]: r["domain"]
           for r in with_registrable_domain(hosts, "host", deep).collect()}
    assert got["x.school.pvt.k12.ma.us"] == "school.pvt.k12.ma.us"
    assert got["school.pvt.k12.ma.us"] == "school.pvt.k12.ma.us"
    assert got["a.example.co.uk"] == "example.co.uk"
    assert got["plain.example.com"] == "example.com"

    # degenerate caller table: every rule is depth-1 == the PSL default
    # rule, so nothing is probed and every host cuts at 2 labels
    flat = spark.createDataFrame([("com",), ("org",)], "suffix string")
    got_flat = {r["host"]: r["domain"]
                for r in with_registrable_domain(hosts, "host",
                                                 flat).collect()}
    assert got_flat["a.example.co.uk"] == "co.uk"  # no co.uk rule here
    assert got_flat["plain.example.com"] == "example.com"
    assert got_flat["x.school.pvt.k12.ma.us"] == "ma.us"

    # depth-GAP rule set (plain rules at depths 2 and 4, none at 3):
    # only populated (class, depth) combos are probed, and the executed
    # BroadcastHashJoin count must equal psl_probe_count for THIS table —
    # an empty-depth probe would be folded out by PropagateEmptyRelation
    # and silently desynchronize the audit's assertion
    from rag_pdf_parser_spark.operators.urlfilter import _psl_probe_specs

    gap_rules = ["co.uk", "pvt.k12.ma.us"]
    gap = spark.createDataFrame([(s,) for s in gap_rules], "suffix string")
    gapped = with_registrable_domain(hosts, "host", gap)
    got_gap = {r["host"]: r["domain"] for r in gapped.collect()}
    assert got_gap["x.school.pvt.k12.ma.us"] == "school.pvt.k12.ma.us"
    assert got_gap["a.example.co.uk"] == "example.co.uk"
    # after an action, AdaptiveSparkPlan.toString prints BOTH the final
    # and the initial plan — count the final section only
    plan = gapped._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj == len(_psl_probe_specs(gap_rules)) == 2, n_bhj


def test_psl_host_side_normalized(spark):
    """The rule side is lower/trimmed, so the host side must be too: a
    raw-manifest 'Example.CO.UK' (or a trailing-dot FQDN) would otherwise
    miss every rule and silently fall through to the default cut — the
    exact ccTLD misattribution the PSL path exists to fix. The reported
    domain is canonical lowercase."""
    from rag_pdf_parser_spark.operators.urlfilter import (
        psl_table,
        with_registrable_domain,
    )

    hosts = spark.createDataFrame(
        [("Example.CO.UK",), (" b.example.co.uk ",),
         ("example.co.uk.",), ("FOO.WWW.CK",)], "host string")
    got = {r["host"]: r["domain"]
           for r in with_registrable_domain(hosts, "host",
                                            psl_table(spark)).collect()}
    assert got["Example.CO.UK"] == "example.co.uk"
    assert got[" b.example.co.uk "] == "example.co.uk"
    assert got["example.co.uk."] == "example.co.uk"
    assert got["FOO.WWW.CK"] == "www.ck"


def test_psl_wildcard_and_exception_rules(spark):
    """publicsuffix.org wildcard/exception semantics (list_format):
    '*.ck' makes every single label under ck a public suffix — so
    'x.b.ck' is registrable as itself and 'b.ck' IS a public suffix —
    while '!www.ck' carves www.ck back out as a registrable domain
    (prevailing over the wildcard), for itself AND its subdomains.
    The packaged snapshot carries the real .ck/.np/.kawasaki.jp rules;
    the DuckDB twin must agree host-by-host (it is generated from the
    same tuple and holds the domain_stats driver row to parity)."""
    import duckdb

    from __spark_entry__ import _psl_domain_sql
    from rag_pdf_parser_spark.operators.urlfilter import (
        psl_table,
        with_registrable_domain,
    )

    hosts = ["x.b.ck", "b.ck", "ck", "www.ck", "foo.www.ck",
             "a.com.np", "com.np", "np",
             "a.b.kawasaki.jp", "b.kawasaki.jp", "kawasaki.jp",
             "city.kawasaki.jp", "x.city.kawasaki.jp",
             "a.example.co.uk", "plain.example.com"]
    expected = {
        "x.b.ck": "x.b.ck",            # *.ck: b.ck is a public suffix
        "b.ck": "b.ck",                # host IS a public suffix
        "ck": "ck",                    # wildcard needs a bound label
        "www.ck": "www.ck",            # !www.ck: ps=ck, registrable
        "foo.www.ck": "www.ck",        # exception covers subdomains
        "a.com.np": "a.com.np",        # *.np
        "com.np": "com.np",
        "np": "np",
        "a.b.kawasaki.jp": "a.b.kawasaki.jp",   # *.kawasaki.jp
        "b.kawasaki.jp": "b.kawasaki.jp",
        "kawasaki.jp": "kawasaki.jp",  # too shallow for the wildcard
        "city.kawasaki.jp": "city.kawasaki.jp",  # exception
        "x.city.kawasaki.jp": "city.kawasaki.jp",
        "a.example.co.uk": "example.co.uk",  # plain rules unaffected
        "plain.example.com": "example.com",
    }
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {r["host"]: r["domain"]
           for r in with_registrable_domain(df, "host",
                                            psl_table(spark)).collect()}
    assert got == expected, {k: (got[k], expected[k])
                             for k in expected if got[k] != expected[k]}

    # twin parity: the generated DuckDB expression, same hosts
    con = duckdb.connect()
    sql = (f"SELECT host, {_psl_domain_sql('hl')} AS domain FROM "
           f"(SELECT host, string_split(host, '.') AS hl FROM hosts)")
    con.execute("CREATE TABLE hosts(host VARCHAR)")
    con.executemany("INSERT INTO hosts VALUES (?)", [(h,) for h in hosts])
    duck = dict(con.execute(sql).fetchall())
    assert duck == expected, {k: (duck[k], expected[k])
                              for k in expected if duck[k] != expected[k]}


def test_blocklist_depth_warning(spark):
    """r5 verdict #9: a blocklist entry DEEPER than MAX_HOST_LABELS can
    only match exactly (the full-host probe), never its subdomains — the
    gate warns loudly at load time instead of silently half-matching."""
    import warnings

    from rag_pdf_parser_spark.operators.urlfilter import (
        MAX_HOST_LABELS,
        filter_urls,
    )

    deep = ".".join(["x"] * (MAX_HOST_LABELS + 1))
    docs = spark.createDataFrame(
        [(1, f"https://{deep}/p"), (2, f"https://sub.{deep}/p")],
        "doc_id long, url string")
    blocked = spark.createDataFrame([(deep,), ("ok.example",)],
                                    "host string")
    with pytest.warns(UserWarning, match="never their subdomains"):
        out = filter_urls(docs, blocked).collect()
    by_id = {r["doc_id"]: r["url_blocked"] for r in out}
    assert by_id[1] is True    # exact match still works (full-host probe)
    assert by_id[2] is False   # the documented limitation the warning names
    # a within-cap blocklist stays silent (recording, not erroring — an
    # unrelated ResourceWarning from a GC'd py4j socket must not flake this)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        filter_urls(docs, spark.createDataFrame([("ok.example",)],
                                                "host string")).collect()
    assert not [w for w in caught if "subdomains" in str(w.message)]
    # the validate=False escape hatch must be reachable from the composed
    # entry points (review finding: a daily increment loop re-validated
    # and re-warned per batch) — flag_corpus threads it through
    from rag_pdf_parser_spark.plans.curate import flag_corpus

    docs_t = docs.withColumn("text", F.lit("some words here"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        flag_corpus(docs_t, blocked, validate=False).collect()
    assert not [w for w in caught if "subdomains" in str(w.message)]
    with pytest.warns(UserWarning, match="never their subdomains"):
        flag_corpus(docs_t, blocked).collect()  # default still validates


def test_duplicate_ids_raise_before_anything_is_written(spark, tmp_path):
    """Ids must uniquely key the exact survivors. Two texts under one id
    make `dedup_corpus` and the admit raise, whether or not a near pair
    sits among the docs, and the admit writes nothing: the store's rows,
    its `_STORE_META.json` and the canon table are untouched, and a first
    batch creates no store."""
    import hashlib

    from rag_pdf_parser_spark.operators.dedup import (
        dedup_corpus,
        dedup_corpus_incremental,
    )

    t = ("a document about turbines and impellers spinning in laminar "
         "flow for many words")
    u = "unrelated second text with entirely distinct vocabulary tokens"
    v = "yet another novel text about glaciers calving into fjords"
    schema = "doc_id string, text string"
    store, canon = str(tmp_path / "lsh"), str(tmp_path / "canon")
    dedup_corpus_incremental(spark.createDataFrame(
        [("z", "a stored doc about centrifuges and flywheels")], schema),
        store, canon)

    def snapshot():
        return {os.path.join(d, f): hashlib.sha256(
                    open(os.path.join(d, f), "rb").read()).hexdigest()
                for root in (store, canon) for d, _, fs in os.walk(root)
                for f in fs}

    before = snapshot()
    assert any(p.endswith("_STORE_META.json") for p in before)
    fresh = tmp_path / "fresh"
    for rows in ([("a", t), ("a", u), ("b", v)],
                 [("a", t), ("a", u), ("b", v), ("c", t + " x")]):
        docs = spark.createDataFrame(rows, schema)
        with pytest.raises(ValueError, match="uniquely key"):
            dedup_corpus(docs).collect()
        with pytest.raises(ValueError, match="uniquely key"):
            dedup_corpus_incremental(docs, store, canon)
        assert snapshot() == before
        with pytest.raises(ValueError, match="uniquely key"):
            dedup_corpus_incremental(docs, str(fresh / "lsh"),
                                     str(fresh / "canon"))
        assert not (fresh / "lsh").exists()
        assert not (fresh / "canon").exists()


def test_incremental_refuses_lost_canon(spark, tmp_path):
    """Review finding on the crash-retry guard: a store whose owner ids
    are NOT from this increment while canon_dir has no data is a LOST (or
    mispointed) canon table, not a first-batch crash window — the guard
    must refuse loudly instead of probe-skipping and silently admitting
    every near-dup of the indexed corpus."""
    import shutil

    from rag_pdf_parser_spark.operators.dedup import dedup_corpus_incremental

    store = str(tmp_path / "idx")
    canon = str(tmp_path / "canon")
    A = spark.createDataFrame(
        [("a0", "an indexed corpus document with plenty of words about "
                "turbines and impellers spinning in laminar flow")],
        "doc_id string, text string")
    dedup_corpus_incremental(A, store, canon)
    shutil.rmtree(canon)  # the disaster: canon gone, mature store remains

    B = spark.createDataFrame(
        [("b0", "an indexed corpus document with plenty of words about "
                "turbines and impellers whirling in laminar flow")],
        "doc_id string, text string")
    with pytest.raises(ValueError, match="lost or mispointed"):
        dedup_corpus_incremental(B, store, canon)
