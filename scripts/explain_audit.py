#!/usr/bin/env python
"""Plan audit: capture .explain('formatted') for the engine's key operators
and assert the physical properties we designed for — parquet filter/column
pushdown, broadcast joins on small dims, partial aggregation, single-UDF
extraction stage. Writes PLANS.md for review.

Run: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from rag_pdf_parser_spark.operators.dedup import lsh_candidate_pairs  # noqa: E402
from rag_pdf_parser_spark.operators.extract import extract_docs  # noqa: E402
from rag_pdf_parser_spark.operators.spread import (  # noqa: E402
    has_exchange, plan_nodes)
from rag_pdf_parser_spark.session import get_spark  # noqa: E402
from rag_pdf_parser_spark.sources.pages import synth_pages  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def repetition_stages(df) -> int:
    """Arrow stages in `df`'s executed plan that run the repetition
    kernel."""
    return sum(n.nodeName() == "MapInArrow"
               and "repetition_row" in n.toString() for n in plan_nodes(df))


def arrow_stages(df) -> int:
    """MapInArrow nodes in `df`'s executed plan; raises if the plan holds
    a pandas Python stage."""
    names = [n.nodeName() for n in plan_nodes(df)]
    assert not {"MapInPandas", "FlatMapGroupsInPandas"} & set(names), names
    return names.count("MapInArrow")


def shuffles(df) -> list:
    """The shuffle exchange nodes of `df`'s executed plan."""
    exchange = df.sparkSession._jvm.Class.forName(
        "org.apache.spark.sql.execution.exchange.ShuffleExchangeExec")
    return [n for n in plan_nodes(df) if exchange.isInstance(n)]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("local[4]", shuffle_partitions=4)
    sections: list[tuple[str, str, list[str]]] = []

    # 1. projection+filter pushdown to parquet
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    q = li.where(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_quantity"
    )
    sections.append((
        "filter+projection pushdown (lineitem scan)",
        plan_of(q),
        ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
         "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp_ntz>"],
    ))

    # 2. broadcast join of small dims
    sections.append((
        "broadcast joins (revenue_by_nation)",
        plan_of(E.q_revenue_by_nation(spark, SF)),
        ["BroadcastHashJoin"],
    ))

    # 3. partial aggregation (map-side combine) in minhash signature
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    sections.append((
        "minhash signature: hash-aggregate with partial agg",
        plan_of(lsh_candidate_pairs(docs, id_col="doc_id")),
        ["HashAggregate", "partial_min"],
    ))

    # 4. extraction: exactly one Python stage behind one salted exchange
    # at the session's shuffle width
    pages = synth_pages(spark, 50)
    ext = extract_docs(pages)
    assert arrow_stages(ext) == 1, "extraction must be ONE Python stage"
    exchanges = shuffles(ext)
    assert len(exchanges) == 1, "extraction must shuffle once (the salt)"
    part = exchanges[0].outputPartitioning()
    xxhash = spark._jvm.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.XxHash64")
    assert part.numPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions")), \
        "extraction spreads to the session's shuffle width"
    assert part.expressions().size() == 1 \
        and xxhash.isInstance(part.expressions().apply(0)), \
        "extraction salts by xxhash64(url)"
    sections.append((
        "extraction: single Arrow-native Python stage after salted exchange",
        plan_of(ext), [],
        "Asserted on plan nodes: one MapInArrow, no pandas node, and one "
        "shuffle exchange hash-partitioned on xxhash64(url) at "
        "spark.sql.shuffle.partitions.",
    ))

    # 4b. mixed HTML/PDF corpus: the PDF lane rides the SAME Arrow stage
    mixed = E.q_extract_pdf_mixed(spark, SF)
    assert arrow_stages(mixed) == 1, "mixed: ONE extract stage"
    sections.append((
        "mixed HTML/PDF extraction: per-row kernel choice in one Arrow stage",
        plan_of(mixed), [],
        "Asserted on plan nodes: one MapInArrow, no pandas node.",
    ))

    # 5. simhash: fingerprint pass must be shuffle-free (VERDICT r1 #1)
    from rag_pdf_parser_spark.operators.dedup import simhash

    sim_plan = plan_of(simhash(docs).select("doc_id", "simhash"))
    sections.append((
        "simhash64: zero-shuffle fingerprint (no Exchange anywhere)",
        sim_plan,
        [],
    ))
    assert "Exchange" not in sim_plan, "simhash must not shuffle"

    # 6. entry flagship: one Python stage, no grouped-map shuffle
    entry_plan = plan_of(E.entry(spark))
    sections.append((
        "entry flagship: fused extract+chunk, single Python stage, broadcast join",
        entry_plan,
        ["MapInArrow", "BroadcastHashJoin"],
    ))
    # two Python stages, both Arrow maps: the distributed fixture GENERATOR
    # (the table-scan stand-in; production reads parquet/Iceberg) + ONE
    # extraction stage. No pandas boundary anywhere.
    assert entry_plan.count("MapInArrow (") == 2, \
        "entry: generator + ONE extract stage"
    assert entry_plan.count("MapInPandas (") == 0, "entry: no pandas boundary"
    assert "FlatMapGroupsInPandas" not in entry_plan, "no grouped-map in entry"

    # 7. as-of join: union-window formulation — ONE exchange, NO join node
    from rag_pdf_parser_spark.operators.asof import asof_join

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    left = ev.select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "login").select(
        "user_id", "ts", F.col("event_id").alias("login_event"))
    asof_df = asof_join(left, right, on="user_id", ts="ts")
    asof_plan = plan_of(asof_df)
    sections.append((
        "as-of join: one exchange on the key, zero join nodes",
        asof_plan,
        ["Window", "Union"],
    ))
    asof_exec = asof_df._jdf.queryExecution().executedPlan().toString()
    assert asof_exec.count("Exchange hashpartitioning") == 1, "asof: 1 shuffle"
    assert "Join" not in asof_exec, "asof must not use a join node"

    # 8. window-based assembly — single sort per doc partition
    from rag_pdf_parser_spark.operators.extract import explode_blocks
    from rag_pdf_parser_spark.operators.pagemerge import assemble_text_native

    sections.append((
        "native re-assembly: one window + one aggregate",
        plan_of(assemble_text_native(explode_blocks(extract_docs(pages)))),
        ["Window", "HashAggregate"],
    ))

    # 9. fused extract, salt=False: NO Exchange anywhere (pre-bucketed
    # input goes straight into the Arrow stage — r2 verdict #2)
    unsalted = extract_docs(pages, salt=False, chunks=True)
    assert not has_exchange(unsalted), "salt=False must not shuffle"
    assert arrow_stages(unsalted) == 1, "salt=False: ONE extract stage"
    sections.append((
        "fused extract+chunk, salt=False: zero Exchange",
        plan_of(unsalted), [],
        "Asserted on plan nodes: no Exchange, one MapInArrow, no pandas "
        "node.",
    ))

    # 10. webtext quality gate: pure projection over the scan — zero
    # Exchange, all expressions in one stage
    wq = E.q_webtext_quality(spark, SF)
    wq_exec = wq._jdf.queryExecution().executedPlan().toString()
    sections.append((
        "webtext quality (Gopher/C4 filters): zero-shuffle projection",
        plan_of(wq),
        [],
    ))
    assert "Exchange" not in wq_exec, "quality gate must not shuffle"

    # 11. bilingual markdown: ONE Python stage (the extraction), the whole
    # paragraph parse + translate interleave as native expressions
    bm = E.q_bilingual_markdown(spark, SF)
    bm_plan = plan_of(bm)
    sections.append((
        "bilingual markdown: paragraph-aware fold as native expressions",
        bm_plan,
        ["MapInArrow"],
    ))
    assert bm_plan.count("MapInArrow (") == 1, \
        "bilingual markdown: ONE Python stage (the extraction) only"
    assert "FlatMapGroupsInPandas" not in bm_plan

    # 12. corpus line dedup: Generate (no shuffle) -> partial-agg count ->
    # anti join -> per-doc rebuild; no Python stages beyond extraction
    cld = E.q_corpus_line_dedup(spark, SF)
    cld_exec = cld._jdf.queryExecution().executedPlan().toString()
    sections.append((
        "corpus line dedup: explode -> partial count -> anti-join -> rebuild",
        plan_of(cld),
        ["Generate", "HashAggregate", "LeftAnti"],
    ))
    assert "partial_count" in cld_exec, "line counting must map-side combine"

    # 12. round-4 operators
    # repetition filters: one split in the JVM, the n-gram counts in ONE
    # Arrow stage (the repetition kernel), zero Exchange
    rep = E.q_repetition_filters(spark, SF)
    rep_opt = rep._jdf.queryExecution().optimizedPlan().toString()
    sections.append((
        "full Gopher repetition family (one Arrow stage, zero shuffle)",
        plan_of(rep), ["Scan parquet", "MapInArrow"],
    ))
    assert not has_exchange(rep), "repetition family must not shuffle"
    assert repetition_stages(rep) == 1, \
        "repetition family must be ONE repetition-kernel Arrow stage"
    assert rep_opt.count("zip_with") == 0, \
        "repetition n-grams are counted in the kernel, not built in the JVM"
    assert rep_opt.count("split(trim(") == 1, "one tokenization"
    assert "regexp_replace(lower(text" not in rep_opt, \
        "no normalized-text re-tokenizer"

    # quality classifier: zero Exchange, no UDF
    qm = E.q_quality_model(spark, SF)
    qm_exec = qm._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in qm_exec, "quality model must not shuffle"
    assert "Python" not in qm_exec and "MapInPandas" not in qm_exec, \
        "quality model must be pure expressions"
    sections.append((
        "hashed linear quality classifier (zero-shuffle, no Python)",
        plan_of(qm), ["Scan parquet"],
    ))

    # URL gate: one broadcast probe per label depth the blocklist holds —
    # no Generate, no join-back, and the CORPUS is never exchanged (the
    # only permitted shuffle is the blocklist-side distinct() inside the
    # broadcast build). With a heavily-blocked corpus the r4
    # explode+join-back form degraded to a full corpus shuffle on url once
    # the hit set outgrew broadcast; per-depth probes have no hit-density
    # regime at all. Nodes are matched by name on the walked plan.
    uf = E.q_url_filter(spark, SF)
    uf_nodes = list(plan_nodes(uf))
    uf_names = [n.nodeName() for n in uf_nodes]
    assert "BroadcastNestedLoopJoin" not in uf_names, \
        "url gate must not nested-loop"
    assert "Generate" not in uf_names, "url gate must not explode suffixes"
    uf_depths = {h.count(".") + 1 for (h,) in E._URL_BLOCKLIST}
    assert uf_names.count("BroadcastHashJoin") == len(uf_depths), \
        "url gate must broadcast-probe once per blocklist entry depth"
    assert all([n.output().apply(i).name() for i in range(n.output().size())]
               == ["host"] for n in uf_nodes if n.nodeName() == "Exchange"), \
        "url gate must never exchange the corpus"
    sections.append((
        "URL/domain gate (per-depth broadcast probes; zero corpus shuffle)",
        plan_of(uf), ["BroadcastHashJoin"],
        "Note: the gate probes exactly the label depths its blocklist's "
        "entries hold (collected in one Spark job), so an entry of any "
        "depth blocks its exact host and every subdomain. This audit's "
        "blocklist holds two-label entries only: one probe.",
    ))

    # composed curation funnel (r5): ONE tokenization + ONE bigram step
    # shared by the gopher/quality gates (1 zip_with), the repetition
    # counts in ONE Arrow stage, no second normalized-text split
    fn = E.q_curation_funnel(spark, SF)
    fn_opt = fn._jdf.queryExecution().optimizedPlan().toString()
    assert fn_opt.count("zip_with") == 1, \
        f"funnel must stage one shared bigram step (1 zip_with), saw " \
        f"{fn_opt.count('zip_with')}"
    assert fn_opt.count("split(trim(") == 1, "funnel tokenizes once"
    assert repetition_stages(fn) == 1, \
        "funnel must run ONE repetition-kernel Arrow stage"
    # the url-host expr legitimately lowercases the URL column; the banned
    # pattern is the standalone gates' normalized-TEXT tokenizer
    assert "regexp_replace(lower(text" not in fn_opt, \
        "funnel gates must share the single staged tokenization"
    sections.append((
        "composed curation funnel (tokenize-once across gates)",
        plan_of(fn), ["HashAggregate"],
    ))

    # per-domain triage: pure-projection flags + per-depth PSL broadcast
    # probes (r6 — registrable domains are PSL longest-match now) + ONE
    # bounded-key CORPUS shuffle (partial agg map-side), no Generate. The
    # since the PSL table is collected and classified driver-side
    # (2c25e0f) no suffix-side Exchange can appear in the plan — assert
    # exactly one Exchange overall (the domain-key aggregate).
    ds = E.q_domain_stats(spark, SF)
    ds_exec = ds._jdf.queryExecution().executedPlan().toString()
    corpus_ex = [ln for ln in ds_exec.splitlines()
                 if "Exchange hashpartitioning" in ln]
    assert len(corpus_ex) == 1, \
        f"domain stats must shuffle the corpus exactly once (domain key); " \
        f"saw {corpus_ex}"
    assert "Generate" not in ds_exec, "domain stats must not explode"
    assert "BroadcastNestedLoopJoin" not in ds_exec
    from rag_pdf_parser_spark.operators.urlfilter import psl_probe_count

    assert ds_exec.count("BroadcastHashJoin") == psl_probe_count(), \
        "PSL probes must be one broadcast join per (rule class, depth): " \
        "plain 2..P, wildcard bases 1..W, exceptions 2..E"
    sections.append((
        "per-domain corpus triage (PSL probes + one bounded-key shuffle)",
        plan_of(ds), ["HashAggregate", "BroadcastHashJoin"],
    ))

    # simhash banded pairs: hash/merge equi-join on (band, chunk), no BNLJ
    sd = E.q_simhash_near_dups(spark, SF)
    sd_exec = sd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in sd_exec, \
        "banded simhash pairs must equi-join"
    sections.append((
        "SimHash banded near-dup pairs (equi-join blocking)",
        plan_of(sd), ["Join"],
    ))

    out = ["# PLANS — physical-plan audit (generated by scripts/explain_audit.py)\n"]
    failures = []
    for section in sections:
        title, plan, expects = section[:3]
        note = section[3] if len(section) > 3 else None
        marks = []
        for e in expects:
            ok = e in plan
            marks.append(f"  - {'OK ' if ok else 'MISSING '} `{e}`")
            if not ok:
                failures.append((title, e))
        out.append(f"## {title}\n\nChecks:\n" + "\n".join(marks)
                   + (f"\n\n{note}" if note else "")
                   + "\n\n```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    if failures:
        print("AUDIT FAILURES:", failures)
        sys.exit(1)
    print("plan audit OK — PLANS.md written")


if __name__ == "__main__":
    main()
