"""URL / domain filtering — the front gate of every web-corpus pipeline
(C4 §2.2 / RefinedWeb §3.1 style): drop documents from blocklisted domains
(including all subdomains) or whose URL matches bad patterns, BEFORE paying
for extraction.

Scale shape: subdomain matching is NOT an endswith scan — each host derives
its suffix key at each label depth the blocklist's entries hold
(`a.b.co.uk` → co.uk at depth 2, b.co.uk at depth 3) and the
blocklist match is per-depth broadcast left joins on the suffix columns
(real blocklists are ~1e5-1e6 rows, megabytes — built and broadcast ONCE:
AQE canonicalizes the per-depth build sides and runtime-reuses one
broadcast stage for the others, asserted on the executed final plan in
tests). ZERO shuffle of the corpus in any hit-density regime: no
Generate, no join-back on url (the r4 formulation exploded suffixes into a
side table and left-joined the hit urls back — correct, but with a
heavily-blocked corpus the hit set outgrows the broadcast threshold and the
join-back degrades to a full corpus shuffle on url; per-depth probes have
no join-back at all). If the blocklist ever outgrows broadcast (1e8+
entries), the fallback is to explode each host's suffix chain and
shuffle-join on suffix. Pattern rules are a fixed list of RE2-safe regexes
compiled into ONE alternation evaluated JVM-side.

The reference has no URL gate (single-directory file tool); this is an
engine-added operator per the §2.11 training-data inventory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default bad-URL patterns (C4-style: raw/binary asset endpoints, login and
#: search pages, calendars and session artifacts that yield boilerplate)
DEFAULT_URL_PATTERNS = (
    r"\.(?:jpg|jpeg|png|gif|webp|mp4|avi|mp3|zip|exe|css|js)(?:[?#]|$)",
    r"[?&](?:sessionid|sid|phpsessid)=",
    r"/(?:login|signin|signup|logout|cart|checkout)(?:[/?#]|$)",
    r"/calendar/\d{4}/\d{2}",
)

#: Packaged public-suffix-list SNAPSHOT (r5 verdict #2): the multi-label
#: entries of the publicsuffix.org ICANN section that real web corpora hit
#: most (ccTLD second-level registries; the state-education third-level
#: .au entries give depth-3 coverage), plus the list's wildcard
#: (`*.ck` — any single label in place of `*`) and exception (`!www.ck`
#: — carves a registrable name out of a wildcard) rules in their native
#: syntax (the classics: .ck, .np, .kawasaki.jp). Single-label TLDs need
#: no entry because the PSL default rule (unknown TLD → the TLD itself is
#: the public suffix) is built into the longest-match below. In
#: production swap the full publicsuffix.org dat for this tuple —
#: `psl_table` is the only seam.
PSL_SNAPSHOT = (
    # .uk
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    # .au (+ real third-level state-education registries)
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "act.edu.au", "nsw.edu.au", "nt.edu.au", "qld.edu.au", "sa.edu.au",
    "tas.edu.au", "vic.edu.au", "wa.edu.au",
    # .jp
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    # .nz
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "kiwi.nz", "maori.nz",
    # .za
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "edu.za", "web.za",
    # .br
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "blog.br",
    # .cn
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    # .in
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "res.in", "gov.in",
    # .kr
    "co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr", "re.kr", "pe.kr",
    # .tw / .hk / .sg
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    # .mx / .ar / .tr
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "int.ar",
    "mil.ar", "tur.ar",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "gen.tr", "web.tr",
    "k12.tr", "av.tr", "bel.tr", "pol.tr", "tel.tr", "tv.tr", "biz.tr",
    "info.tr", "name.tr",
    # .pl / .il / .th / .id / .ua
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl", "waw.pl",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il", "k12.il",
    "co.th", "net.th", "org.th", "ac.th", "go.th", "in.th", "or.th",
    "co.id", "net.id", "org.id", "ac.id", "go.id", "or.id", "sch.id",
    "web.id", "my.id", "biz.id",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    # wildcard + exception rules (publicsuffix.org ICANN section, native
    # syntax): every label under .ck/.np is itself a public suffix,
    # except the carved-out registrable names
    "*.ck", "!www.ck",
    "*.np",
    "*.kawasaki.jp", "!city.kawasaki.jp",
)


def _psl_rule_classes(entries) -> tuple[list[str], list[str], list[str]]:
    """Split raw PSL entries into (plain, wildcard-base, exception-base)
    rule lists: '*.ck' → wildcard base 'ck', '!www.ck' → exception base
    'www.ck', everything else plain. Single source for the Spark probes,
    the generated DuckDB twin, and the probe-count audit.

    Entries are normalized HERE, exactly like `filter_urls`' blocklist
    (trim spaces, lower, drop empties, dedupe), BEFORE marker detection:
    classifying raw strings would let a real-list entry with stray
    whitespace (' *.ck') count as a plain rule in `psl_probe_count` while
    the executed probes treat it as a wildcard — the audit's join-count
    assertion and the plan would silently disagree."""
    plain: set[str] = set()
    wc: set[str] = set()
    exc: set[str] = set()
    for s in entries:
        # `if not s` also guards None entries (a file-loaded PSL can
        # plausibly yield NULL rows, e.g. from a CSV read) — strip() on
        # None would otherwise crash the driver-side collect opaquely
        if not s:
            continue
        s = s.strip(" ").lower()
        if not s:
            continue
        if s.startswith("!"):
            if s[1:]:
                exc.add(s[1:])
        elif s.startswith("*."):
            if s[2:]:
                wc.add(s[2:])
        else:
            plain.add(s)
    return sorted(plain), sorted(wc), sorted(exc)


#: deepest PLAIN rule in the snapshot (3: the *.edu.au state registries)
PSL_MAX_LABELS = max(s.count(".") + 1
                     for s in PSL_SNAPSHOT
                     if not s.startswith(("!", "*.")))


def _psl_probe_specs(entries) -> list[tuple[str, int, str, list[str]]]:
    """(marker, key-depth, class, rules) for every POPULATED (class, depth)
    probe `with_registrable_domain` makes: plain rules at depths ≥ 2
    (depth 1 IS the default rule), wildcard bases at their own depth
    (≥ 1), exception bases at depths ≥ 2 (a depth-1 exception would mean
    ps = 0). Only populated combos are probed — an empty broadcast side
    would be folded out of the physical plan by PropagateEmptyRelation
    anyway, so probing it would silently desynchronize the audit's
    join-count assertion on any rule set with a depth gap (the full
    publicsuffix.org list has them)."""
    plain, wc, exc = _psl_rule_classes(entries)

    def by_depth(rules: list[str], lo: int) -> dict[int, list[str]]:
        d: dict[int, list[str]] = {}
        for s in rules:
            j = s.count(".") + 1
            if j >= lo:
                d.setdefault(j, []).append(s)
        return d

    return (
        [(f"__psl{j}", j, "plain", v)
         for j, v in sorted(by_depth(plain, 2).items())]
        + [(f"__wc{b}", b, "wc", v)
           for b, v in sorted(by_depth(wc, 1).items())]
        + [(f"__exc{d}", d, "exc", v)
           for d, v in sorted(by_depth(exc, 2).items())]
    )


def psl_probe_count() -> int:
    """How many per-depth broadcast probes `with_registrable_domain`
    makes for `PSL_SNAPSHOT` — one per populated (class, depth) combo
    (`_psl_probe_specs`). The plan audit asserts the executed
    BroadcastHashJoin count equals this."""
    return len(_psl_probe_specs(PSL_SNAPSHOT))


def url_host_expr(url: Column) -> Column:
    """Lowercased host of the URL: strips scheme, userinfo, port, and any
    path/query/fragment; scheme-less URLs are treated as starting with the
    host (the crawl-manifest convention)."""
    u = F.lower(url)
    no_scheme = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    no_user = F.regexp_replace(no_scheme, r"^[^/@?#]*@", "")
    host = F.regexp_extract(no_user, r"^([^/:?#]*)", 1)
    # fully-qualified form: 'host.' is the same origin as 'host' — without
    # the strip, 'ads.tracker.example.' would evade a 'tracker.example'
    # blocklist entry (every suffix would carry the trailing dot)
    return F.regexp_replace(host, r"\.+$", "")


def _suffix_key_expr(labels: Column, n: Column, j: int) -> Column:
    """Last-j-labels suffix key over a staged label array: NULL when the
    host has fewer than j labels (never equi-matches); nullif('') keeps an
    empty host from matching even if a blank entry survived normalization.
    Shared by the blocklist gate and the PSL probes."""
    return F.when(
        n >= j,
        F.nullif(F.array_join(F.slice(labels, n - j + 1, j), "."),
                 F.lit("")))


def url_pattern_flag_expr(url: Column) -> Column:
    """True when the URL matches any of `DEFAULT_URL_PATTERNS` — one
    alternation regex, evaluated in codegen."""
    combined = "(?:" + ")|(?:".join(DEFAULT_URL_PATTERNS) + ")"
    return F.lower(url).rlike(combined)


def psl_table(spark) -> DataFrame:
    """The packaged PSL snapshot as a one-column DataFrame (`suffix`) —
    the broadcast side of `with_registrable_domain`. Swap in the full
    publicsuffix.org list here for production exactness (~10k plain rules,
    still kilobytes — trivially broadcastable)."""
    return spark.createDataFrame([(s,) for s in PSL_SNAPSHOT],
                                 "suffix string")


def with_registrable_domain(docs: DataFrame, host_col: str,
                            psl: DataFrame, out_col: str = "domain"
                            ) -> DataFrame:
    """PSL-correct registrable domain: longest public suffix matching the
    host, plus one label ('a.example.co.uk' → 'example.co.uk', NOT
    'co.uk'). Implemented with the URL gate's per-depth broadcast-probe
    idiom — one broadcast of the (tiny) suffix list probed once per rule
    depth, so the corpus never shuffles and nothing explodes:

        1. stage the host's label array ONCE (CollapseProject keeps a
           non-cheap attr referenced >1× staged — the split runs once),
        2. for each depth j ≤ the deepest rule, left-join the last-j-label
           suffix key against the depth-j rules,
        3. public-suffix length = deepest j that hit, else 1 (the PSL
           default rule: an unmatched TLD is itself the public suffix),
        4. domain = last (ps + 1) labels — F.slice clamps, so a host that
           IS a public suffix (or shorter) maps to itself, which keeps the
           triage-table key total (no NULL group for 'co.uk' rows).

    `psl` is normalized exactly like the blocklist side (lower/trim/
    non-empty/distinct) so each per-depth join matches at most one rule.

    All three PSL rule classes are honored, in the list's native syntax
    (publicsuffix.org/list_format): a wildcard rule `*.ck` makes EVERY
    single label under ck a public suffix (base probed at its own depth
    b, hit valid only when the host has ≥ b+1 labels — the `*` must bind
    a real label — candidate ps = b+1); an exception rule `!www.ck`
    PREVAILS over every other match and carves its name back out
    (ps = rule depth − 1, so 'www.ck' and anything under it registers as
    'www.ck'). Otherwise the longest plain/wildcard match wins; no match
    → the default rule (ps = 1). `*` is assumed leftmost-only, as in the
    published list.

    Probe depths and per-depth rule tables are derived from the SUPPLIED
    table, not from the packaged snapshot's constants: the documented
    production path swaps in the full publicsuffix.org list, whose plain
    rules reach depth 4-5 ('pvt.k12.ma.us'), and capping at the
    snapshot's depth would silently drop those rules and mis-key every
    host under them. The table is broadcastable-tiny BY CONTRACT (the
    full list is ~10k rows), so it is collected once per plan build and
    classified driver-side (`_psl_rule_classes` — the same function the
    probe-count audit uses, so the two can never disagree); each probe's
    broadcast side is then a literal local table, costing zero extra
    subplan executions per probe."""
    spark = docs.sparkSession
    raw = [r["suffix"] for r in psl.select("suffix").collect()]
    probes = _psl_probe_specs(raw)
    # normalize the HOST side to the rule side's casing/hygiene (lower +
    # trim + strip trailing dots — the same cleanup url_host_expr applies):
    # the contract is any host_col, and a raw-manifest 'Example.CO.UK'
    # would otherwise miss every lowercased rule and silently fall through
    # to the default 2-label cut — exactly the ccTLD misattribution this
    # function exists to fix. The reported domain is therefore lowercase.
    host = F.regexp_replace(F.lower(F.trim(F.col(host_col))),
                            r"\.+$", "")
    out = docs.withColumn("__pl", F.split(host, r"\."))
    n = F.size("__pl")
    # one probe per POPULATED (class, depth) — `_psl_probe_specs` is the
    # same function the plan audit's probe count comes from, so the
    # executed join count and the assertion can never disagree
    key_cols: dict[int, str] = {}
    for marker, j, _rcls, rules in probes:
        if j not in key_cols:
            key_cols[j] = f"__k{j}"
            out = out.withColumn(
                f"__k{j}", _suffix_key_expr(F.col("__pl"), n, j))
        rules_j = spark.createDataFrame([(s,) for s in rules],
                                        f"{marker} string")
        out = out.join(F.broadcast(rules_j),
                       out[key_cols[j]] == rules_j[marker], "left")
    normal_hits = (
        [F.when(F.col(m).isNotNull(), F.lit(j))
         for m, j, c, _ in probes if c == "plain"]
        + [F.when(F.col(m).isNotNull() & (n >= b + 1), F.lit(b + 1))
           for m, b, c, _ in probes if c == "wc"]
    )
    ps_normal = (F.greatest(*reversed(normal_hits), F.lit(1))
                 if normal_hits else F.lit(1))
    exc_hits = [F.when(F.col(m).isNotNull(), F.lit(d - 1))
                for m, d, c, _ in probes if c == "exc"]
    if not exc_hits:
        ps = ps_normal
    elif len(exc_hits) == 1:
        ps = F.coalesce(exc_hits[0], ps_normal)
    else:
        ps = F.coalesce(F.greatest(*exc_hits), ps_normal)
    dom = F.array_join(
        F.slice(F.col("__pl"), F.greatest(n - ps, F.lit(1)), ps + F.lit(1)),
        ".")
    return out.withColumn(out_col, dom).drop(
        "__pl", *key_cols.values(), *[m for m, _, _, _ in probes])


def domain_stats(docs: DataFrame, psl: DataFrame) -> DataFrame:
    """Per-domain corpus triage (the C4 §2.2 / RefinedWeb analysis table)
    over the `url` and `text` columns: one row per registrable domain
    with document count, total text chars, Gopher-keep count, and
    bad-URL-pattern count — the table a curation
    engineer reads to decide which domains to block next.

    The grouping key is the public-suffix-list longest-match over `psl`
    (see `psl_table`), so 'a.example.co.uk' and 'b.example.co.uk' share
    the row 'example.co.uk' and no ccTLD namespace collapses into one
    'co.uk' row (r5 verdict #2). The PSL probes are per-depth broadcast
    joins (zero extra corpus shuffle).

    Scale shape: the gate flags are pure projections; ONE shuffle on the
    domain key (bounded cardinality ≪ corpus, partial-aggregated
    map-side). NULL url/text behave as empty (no row vanishes). The
    whitespace split is STAGED once (tokenize-once discipline — inlining
    gopher_features_expr's default construction re-evaluates the split
    per stat column, since CollapseProject duplicates non-cheap siblings
    and HOFs skip codegen CSE)."""
    from ..functions import (gopher_features_expr, gram_step_expr,
                             raw_tokens_expr)

    safe_text = F.coalesce(F.col("text"), F.lit(""))
    pat = F.coalesce(url_pattern_flag_expr(F.col("url")), F.lit(False))
    base = with_registrable_domain(
        docs.withColumn("__host", url_host_expr(F.col("url"))),
        "__host", psl, out_col="__dom")
    dom = F.coalesce(F.col("__dom"), F.lit(""))
    s1 = base.select(
        dom.alias("domain"),
        safe_text.alias("__t"),
        raw_tokens_expr(safe_text).alias("__rtoks"),
        pat.alias("__pat"),
    )
    s2 = s1.withColumn("__low", F.transform(F.col("__rtoks"), F.lower))
    s3 = s2.withColumn(
        "__g2", gram_step_expr(F.col("__low"), F.col("__low"), 2))
    gf = gopher_features_expr(F.col("__t"), toks=F.col("__rtoks"),
                              bigrams=F.col("__g2"))
    staged = s3.select(
        "domain",
        F.length("__t").alias("__chars"),
        gf["gopher_keep"].alias("__keep"),
        "__pat",
    )
    return staged.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("__chars").cast("long")).alias("total_chars"),
        F.sum(F.col("__keep").cast("long")).alias("n_gopher_keep"),
        F.sum(F.col("__pat").cast("long")).alias("n_pattern_flagged"),
    )


def filter_urls(docs: DataFrame, blocked_hosts: DataFrame | None = None,
                url_col: str = "url") -> DataFrame:
    """The URL gate. `blocked_hosts` needs a `host` string column
    (registrable domains; matching covers the domain AND every subdomain,
    at any depth: host = e OR host ends with '.' + e);
    the URL patterns are `DEFAULT_URL_PATTERNS`.

    Returns docs + `url_blocked` boolean + `block_reason` ('domain' <
    'pattern' when both) — the auditable form (manifests record WHY a url
    was dropped, mirroring failure_code); callers drop or code rows by it.

    The probe depths are the label depths the blocklist's entries hold,
    collected in one Spark job over the by-contract broadcastable table;
    each is one broadcast left join of the host's last-j-labels key. An
    entry of more than 127 labels is not a DNS name (RFC 1035) and raises
    ValueError, so the probe count is bounded by the input.
    """
    # coalesce to false: rlike(NULL) is NULL, and a NULL url_blocked reads
    # as neither blocked nor passed — null urls pass through unblocked
    pat = F.coalesce(url_pattern_flag_expr(F.col(url_col)), F.lit(False))
    out = docs.withColumns({"__pat": pat, "__dom": F.lit(False)})
    if blocked_hosts is not None:
        # real files carry mixed case, stray whitespace and blank lines;
        # the probe keys are lowercase and never empty, and distinct()
        # makes each per-depth left join match at most one row
        entries = blocked_hosts.select(
            F.lower(F.trim("host")).alias("host")).where(F.length("host") > 0)
        # one job: the single partition satisfies distinct() without an
        # exchange
        depths = sorted(r[0] for r in entries
                        .select(F.size(F.split("host", r"\.")))
                        .coalesce(1).distinct().collect())
        if depths and depths[-1] > 127:
            raise ValueError(
                f"a blocklist entry has {depths[-1]} labels; a DNS name "
                "has at most 127")
        # Stage host + label array ONCE, then derive the per-depth suffix
        # key columns in a SECOND select: CollapseProject keeps a non-cheap
        # attribute referenced >1 time staged, so the split runs once per
        # row, not once per depth.
        out = out.withColumn("__h", url_host_expr(F.col(url_col))) \
            .withColumn("__hl", F.split(F.col("__h"), r"\."))
        n = F.size("__hl")
        out = out.withColumns({f"__sfx{j}": _suffix_key_expr(
            F.col("__hl"), n, j) for j in depths}).drop("__h", "__hl")
        # One broadcast of the blocklist, probed once per depth: left joins
        # on each suffix column. No Generate, no join-back, no shuffle of
        # the corpus in ANY hit-density regime (see module docstring).
        blocked = entries.distinct()
        for j in depths:
            bl = F.broadcast(blocked.select(F.col("host").alias(f"__bh{j}")))
            out = out.join(bl, out[f"__sfx{j}"] == bl[f"__bh{j}"], "left") \
                .withColumn("__dom", F.col("__dom")
                            | F.col(f"__bh{j}").isNotNull()) \
                .drop(f"__sfx{j}", f"__bh{j}")
    return (
        out.withColumn("url_blocked", F.col("__dom") | F.col("__pat"))
        .withColumn(
            "block_reason",
            F.when(F.col("__dom"), F.lit("domain"))
            .when(F.col("__pat"), F.lit("pattern")),
        )
        .drop("__dom", "__pat")
    )
