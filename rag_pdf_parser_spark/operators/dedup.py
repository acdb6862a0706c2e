"""Deduplication suite — exact, normalized, MinHash+LSH, SimHash, Jaccard.

The reference's dedup is a JSON dict of seen hashes with four namespaces
(deduplicator.py:45-141); at engine scale each variant becomes a relational
op (SURVEY §2.6 D1-D6 plus the training-data near-dup family):

- exact (D1): sha256 of bytes → dropDuplicates / left-anti vs seen_hashes;
- normalized text (D2): sha256 of lower+ws-collapsed text;
- MinHash+LSH: char-shingles → k min-hashes → banded signatures →
  bucket-join → candidate pairs. Two hash flavors:
    * `sha` — engine-portable (identical in the DuckDB oracle),
    * `xx`  — xxhash64, JVM codegen, the throughput path at scale;
- SimHash: per-token hash bits, weighted majority per bit position;
- n-gram Jaccard: exact pairwise similarity for candidate verification.

Scale notes: LSH turns the O(n²) all-pairs problem into groupBy(band) —
shuffle keyed on band hashes (uniform), each bucket small; the final
pair-join is only over bucket collisions. Exact variants are one shuffle on
the hash (or none when bucketed storage pre-partitions by hash).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# token_ngrams_expr lives in functions/ (the canonical home of the
# zip-shift gram-fold idiom, shared with the repetition family and the
# quality classifier) — re-exported here for the existing import sites.
from ..functions import (  # noqa: F401
    normalized_text_expr,
    normalized_text_hash_expr,
    token_ngrams_expr,
)
from ..plans.lease import WriterLease
from ..plans.maintenance import recover_store

#: The near-dup recipe's one signature config: char 5-gram shingles,
#: 32 xxhash minhashes in 8 bands of r=4 rows, S-curve midpoint
#: (1/b)^(1/r) ≈ 0.59. Against the pair-generation operator's
#: recall-first (8, 4) it has the same recall at the 0.8 threshold
#: (1-(1-J^4)^8 = 0.985 at J=0.8 vs 0.983; at sf0.1 both find the same
#: 256 true pairs) and far fewer low-J banding collisions (theory: 12×
#: at J=0.2; measured on the template-heavy sf0.1 corpus: 870,708 →
#: 464,414 candidates — the rest sit near the r=4 crossover at
#: J≈0.3-0.5). With the verify's size-bound prefilter the recipe's cost
#: at sf0.1 drops 172 → 62.5 s (BENCH.md "dedup_corpus stage profile").
#: The 4× signature hashes are embarrassingly parallel (Lee et al. spend
#: 9,000 hashes per doc for the same reason). The LSH store records it
#: in its meta (`streaming.minhash`): bucket values under another config
#: are incomparable, so a store written under one is refused.
LSH_CONFIG = {"n": 5, "num_perm": 32, "bands": 8, "shingle": "char"}
#: LSH skew cap: buckets holding more docs are left out of candidate
#: generation (boilerplate mega-buckets; their members are exact dups the
#: exact lane upstream already collapsed)
MAX_BUCKET = 10_000
#: verified char-5-gram Jaccard at or above which two docs are near-dups
JACCARD_THRESHOLD = 0.8
#: measured gram-table bytes up to which the Jaccard verify broadcasts
#: both gram sides (`ngram_jaccard_pairs`); above it the verify falls back
#: to sort-merge joins
JACCARD_BROADCAST_BYTES = 256 << 20
#: pair-list size up to which `connected_components` solves on the driver
#: (union-find) instead of the distributed propagation loop
DRIVER_EDGES = 200_000
#: propagation rounds after which the distributed loop gives up
MAX_CC_ROUNDS = 20
#: SimHash banded blocking: 64-bit fingerprints in 4 bands of 16 bits;
#: pigeonhole makes every pair within Hamming distance 3 share a band
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1


# --- exact -------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """D1/D2: keep one row per normalized-content hash (deterministic winner:
    min id) — reference 'skip if hash seen', main.py:43-46.

    A NULL text is never an exact duplicate of anything (the NULL rule of
    `ngram_jaccard_pairs` and of the pipeline's dedup gate): every
    NULL-text row is kept, with a NULL `content_sha`. Rows tied on the
    minimum id all stay; NULL-id rows are dropped.

    One scan, one sha256 per row: rank() over the hash's window (a NULL
    hash is keyed by its row's own id — no sha256 hex digest contains
    ':'), not a self-join that re-scans and re-hashes the input."""
    key = F.coalesce(F.col("content_sha"),
                     F.concat(F.lit("null:"), F.col(id_col).cast("string")))
    first = F.rank().over(Window.partitionBy(key).orderBy(id_col))
    rest = [c for c in df.columns if c not in ("content_sha", id_col)]
    return df.where(F.col(id_col).isNotNull()) \
        .withColumn("content_sha",
                    normalized_text_hash_expr(F.col(content_col))) \
        .withColumn("__rank", first).where(F.col("__rank") == 1) \
        .select("content_sha", id_col, *rest)


def anti_join_seen(df: DataFrame, seen: DataFrame, hash_col: Column,
                   kind: str) -> DataFrame:
    """J2/F7: drop rows whose hash is registered in seen_hashes (the
    reference's dedup-gate, deduplicator.py:114-141). The join strategy is
    AQE's (autoBroadcastJoinThreshold); no driver-side count() fires
    during plan construction."""
    s = seen.where(F.col("kind") == kind).select(F.col("hash").alias("__h"))
    return (
        df.withColumn("__h", hash_col)
        .join(s, "__h", "left_anti")
        .drop("__h")
    )


def register_hashes(seen_path: str, new_hashes: DataFrame) -> None:
    """D6: insert-if-new registration (deduplicator.py:143-161) — append the
    batch's hashes to the seen_hashes table. At 10^12 scale this is an
    Iceberg MERGE on a table bucketed by hash; parquet append + the anti-join
    gate gives the same semantics here (duplicate registrations are harmless:
    the gate is a semi-join, not a counter)."""
    new_hashes.select("hash", "kind", "source").dropDuplicates(["hash", "kind"]) \
        .write.mode("append").parquet(seen_path)


# --- MinHash + LSH -------------------------------------------------------------

def minhash_signature(df: DataFrame, text_col: str = "text", n: int = 5,
                      num_perm: int = 8, flavor: str = "xx",
                      shingle: str = "char") -> DataFrame:
    """Signature table: non-text columns of `df` + mh0..mh{k-1} minhash
    components from n-gram shingles (the text column is consumed).

    flavor='xx': xxhash64(shingle, seed=j) — JVM codegen, fast path.
    flavor='sha': lexicographic min of sha256(shingle||'#'||j) — portable to
    the DuckDB oracle (same strings both engines).

    shingle='char' (default): character n-grams of the normalized text —
    the robust-to-tokenization config. shingle='word': token n-grams
    (whitespace words of the normalized text) — the published
    training-data dedup recipe shape (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" / RefinedWeb use word
    n-gram MinHash). A doc with no tokens contributes one empty-string
    shingle, mirroring the char path's greatest(len,1) guard, so every doc
    keeps a signature row.
    """
    # Shape notes (measured at sf0.1, 32 cores):
    # - explode the INDEX SEQUENCE and take substrings AFTER the Generate;
    #   exploding a materialized per-row string ARRAY (transform+substring
    #   inside the row) measured 37x slower (15.8 s -> 0.43 s for the
    #   signature) — Generate copies the whole array per output row, and
    #   array_distinct adds nothing (min over repeated shingles == min over
    #   distinct shingles; signatures verified identical).
    # - hash-aggregate with k primitive min()s: map-side partial aggregation
    #   collapses each doc to ONE k-wide row per task before the shuffle
    #   (shuffle volume = ids x k, independent of text size). Hashing is
    #   nearly free next to the Generate.
    if shingle not in ("char", "word"):
        raise ValueError(f"shingle must be 'char' or 'word', got {shingle!r}")
    # the shingle Generate + k-hash min-agg is CPU-bound, not byte-bound:
    # spread a pathologically under-parallel input (single-row-group
    # file ⇒ one scan task) before it — no-op at scan scale (spread.py)
    from .spread import ensure_parallelism

    df = ensure_parallelism(df)
    id_cols = [c for c in df.columns if c != text_col] or [text_col]
    pre = df.select(*id_cols,
                    normalized_text_expr(F.col(text_col)).alias("__t"))
    if shingle == "char":
        idx = F.sequence(F.lit(1),
                         F.greatest(F.length("__t") - (n - 1), F.lit(1)))
        sh = pre.select(*id_cols, "__t", F.explode(idx).alias("__i")).select(
            *id_cols,
            F.substring(F.col("__t"), F.col("__i"), F.lit(n)).alias("__g")
        )
    else:
        # word shingles have no substring-after-Generate equivalent (no O(1)
        # addressing of the i-th token), so the gram array IS materialized —
        # built by the zip-shift fold (O(tokens), no HOF O(n²)). For the xx
        # flavor the 37×-Generate-copy cost is dodged the same way as hashed
        # decontamination: hash each gram to int64 IN the row projection and
        # explode 8-byte longs, never the gram strings. The sha flavor
        # (oracle config, bounded inputs) explodes the strings.
        # explode_outer + coalesce, NOT a when(size>0) guard: the guard
        # would reference the fold in both predicate and then-branch, and
        # Spark does not hoist conditional-branch subexpressions — the
        # optimized plan carried TWO full copies of the fold per row
        # (r4 review finding). explode_outer emits one null row for the
        # empty array; coalescing it to the ''-shingle (or its hash)
        # reproduces the guard's semantics with ONE fold evaluation.
        grams = token_ngrams_expr(F.col("__t"), n, pre_normalized=True)
        if flavor == "xx":
            sh = pre.select(
                *id_cols,
                F.explode_outer(F.transform(grams, lambda g: F.xxhash64(g)))
                .alias("__gh0"),
            ).select(
                *id_cols,
                F.coalesce(F.col("__gh0"), F.xxhash64(F.lit("")))
                .alias("__gh"),
            )
            aggs = [F.min(F.xxhash64(F.col("__gh"), F.lit(j))).alias(f"mh{j}")
                    for j in range(num_perm)]
            return sh.groupBy(*id_cols).agg(*aggs)
        sh = pre.select(
            *id_cols, F.explode_outer(grams).alias("__g0")
        ).select(*id_cols,
                 F.coalesce(F.col("__g0"), F.lit("")).alias("__g"))
    if flavor == "xx":
        aggs = [F.min(F.xxhash64(F.col("__g"), F.lit(j))).alias(f"mh{j}")
                for j in range(num_perm)]
    else:
        aggs = [
            F.min(F.sha2(F.concat(F.col("__g"), F.lit(f"#{j}")), 256)).alias(f"mh{j}")
            for j in range(num_perm)
        ]
    return sh.groupBy(*id_cols).agg(*aggs)


def lsh_buckets(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 5, num_perm: int = 8,
                bands: int = 4, flavor: str = "xx",
                shingle: str = "char") -> DataFrame:
    """(id, band, bucket) rows — one per band per doc; the shared candidate
    index for batch pair generation (`lsh_candidate_pairs`) and the
    streaming seen-store (`streaming.minhash`)."""
    rows = num_perm // bands
    sig = minhash_signature(df.select(id_col, text_col), text_col, n,
                            num_perm, flavor, shingle)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{j}").cast("string")
                for j in range(b * rows, (b + 1) * rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.sha2(F.concat_ws("|", *cols), 256).alias("bucket"))
        )
    return sig.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", "bk.band", "bk.bucket")


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        n: int = 5, num_perm: int = 8,
                        bands: int = 4, flavor: str = "xx",
                        max_bucket: int | None = None,
                        shingle: str = "char") -> DataFrame:
    """MinHash-LSH near-dup candidates over the `text` column: band the
    signature, hash each band, self-join rows sharing any band bucket →
    distinct (a < b) pairs.

    `max_bucket` is the LSH skew guard for corpus scale: a bucket of m
    near-identical docs fans out m² candidate pairs, and one boilerplate
    template shared by millions of pages would melt the pair join. Buckets
    larger than `max_bucket` are dropped from candidate generation (their
    members are effectively exact dups — the cheaper exact/normalized dedup
    lane catches them; this is the standard guard in large-scale MinHash
    dedup pipelines). None = uncapped (exact semantics, the oracle-checked
    configuration).

    Shape note (measured at sf0.1, 870,708 pairs): the equi-SELF-JOIN is
    the right formulation even though it computes the signature pipeline
    twice (no ReusedExchange across the broadcast build side; 3.6 s total).
    The tempting alternatives both lose: localCheckpoint-then-join pays the
    materialization sync (4.6 s), and groupBy(collect_list) + nested
    transform/slice pair expansion materializes each bucket's full O(m²)
    struct array in memory before the Generate copies it per output row —
    the 37× Generate-copy trap in another costume (8.1 s, 2.3× slower).
    The join streams pairs without ever materializing a bucket."""
    return bucket_pairs(lsh_buckets(df, id_col, "text", n, num_perm, bands,
                                    flavor, shingle), max_bucket)


def bucket_pairs(buckets: DataFrame,
                 max_bucket: int | None = None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (band, bucket) row of an
    `lsh_buckets` table: the self-join of `lsh_candidate_pairs` (see there
    for `max_bucket`), for callers that already hold the bucket table."""
    if max_bucket is not None:
        sizes = buckets.groupBy("band", "bucket").agg(
            F.count("*").alias("__bsz"))
        buckets = buckets.join(
            sizes.where(F.col("__bsz") <= max_bucket), ["band", "bucket"]
        ).drop("__bsz")
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


# --- SimHash ---------------------------------------------------------------------

def simhash(df: DataFrame) -> DataFrame:
    """SimHash of the `text` column over whitespace tokens: per-token
    64-bit hash, per-bit weighted majority, reassembled fingerprint. Fully
    native: explode-free — bit b contribution via shiftright/&1 and
    aggregate over the token array."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    # All 64 votes in ONE aggregate pass over the token-hash array
    # (inside the merge lambda, `h` is a bound variable — referencing it per
    # bit is an attribute read, not a re-hash). A per-bit aggregate would
    # re-walk (and re-hash) the token array 64 times.
    one = F.lit(1).cast("long")
    init = F.array(*[F.lit(0).cast("long")] * SIMHASH_BITS)
    merge = lambda acc, h: F.array(*[  # noqa: E731
        F.element_at(acc, b + 1)
        + F.when(F.shiftright(h, b).bitwiseAND(one) == 1, F.lit(1))
        .otherwise(F.lit(-1)).cast("long")
        for b in range(SIMHASH_BITS)
    ])
    votes = F.aggregate(hashes, init, merge)
    # Fingerprint assembly folded into a SECOND aggregate whose *argument* is
    # the votes array: a higher-order function evaluates its argument exactly
    # once per row, so the expensive vote aggregate runs once even though 64
    # bits read it — no CollapseProject duplication, hence no materialization
    # barrier and ZERO shuffle for the whole fingerprint pass. (An earlier
    # revision used a repartition() barrier here, which at corpus scale
    # shuffled the full text column just to stop re-evaluation.)
    # Bit values come from a literal array (1L << b, with b=63 the
    # two's-complement -(2^63) the signed fingerprint needs).
    bitvals = F.array(*[
        F.lit(2 ** b if b < 63 else -(2 ** 63)).cast("long")
        for b in range(SIMHASH_BITS)
    ])
    fingerprint = F.aggregate(
        votes,
        F.struct(F.lit(0).cast("long").alias("fp"), F.lit(0).alias("b")),
        lambda acc, v: F.struct(
            (acc["fp"] + F.when(
                v > 0, F.element_at(bitvals, acc["b"] + 1)
            ).otherwise(F.lit(0).cast("long"))).alias("fp"),
            (acc["b"] + 1).alias("b"),
        ),
        lambda acc: acc["fp"],
    )
    return df.withColumn("simhash", fingerprint)


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash fingerprints via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(df: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup PAIRS of the `text` column at corpus scale via
    banded blocking (Manku, Jain & Sarma 2007, "Detecting near-duplicates
    for web crawling"): split the 64-bit fingerprint into `SIMHASH_BANDS`
    contiguous chunks; by pigeonhole, two fingerprints within Hamming
    distance <= bands-1 agree EXACTLY on at least one chunk, so an
    equi-self-join on (band, chunk value) finds every such pair with
    recall 1.0 — no all-pairs scan. The exact `bit_count(xor) <=
    SIMHASH_MAX_HAMMING` predicate then verifies candidates (bands-1, the
    lossless configuration).

    Shuffle ∝ corpus × bands on uniformly-distributed 16-bit chunk keys.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = F.lit((1 << width) - 1).cast("long")
    sig = simhash(df.select(id_col, "text")).select(
        F.col(id_col).alias("id"), "simhash")
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            # shiftright is arithmetic (sign-extends the top band) — the
            # mask normalizes chunks to unsigned values
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(mask)
            .alias("bv"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    bk = sig.select(
        "id", "simhash", F.explode(F.array(*entries)).alias("k")
    ).select("id", "simhash", "k.band", "k.bv")
    left, right = bk.alias("l"), bk.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .where(simhash_hamming(F.col("l.simhash"), F.col("r.simhash"))
               <= SIMHASH_MAX_HAMMING)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


# --- Jaccard -----------------------------------------------------------------------

def jaccard_size_bound_expr(sz_a: Column, sz_b: Column,
                            threshold: float) -> Column:
    """Keep-predicate of the verify prefilter: J(A,B) ≤ min/max, and the
    reported jaccard is round-half-up-6, so the downstream ≥ threshold
    gate keeps any pair with true J ≥ threshold − 5e-7. A pair can
    therefore be safely dropped only when min < (threshold − slack)·max;
    the 1e-6 slack doubles the rounding window, which also absorbs the
    float error of the multiplication itself (exactly-on-the-window
    products like 0.7999995·2_000_000 land on either side of the integer
    depending on rounding of the literal). Over-admission is harmless —
    survivors carry their exact jaccard and the caller's gate drops them."""
    return F.least(sz_a, sz_b) >= (threshold - 1e-6) * F.greatest(sz_a, sz_b)


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        min_jaccard: float | None = None) -> DataFrame:
    """Exact char n-gram Jaccard for candidate pairs (id_a, id_b):
    |∩| / (|A|+|B|-|∩|) over the docs' distinct shingle sets, with n the
    recipe's shingle length (`LSH_CONFIG`), so candidates verify in the
    space their signatures approximated.

    `min_jaccard` switches on the size-bound prefilter for the
    dedup-verify workload: J(A,B) ≥ t requires min(|A|,|B|)/max(|A|,|B|)
    ≥ t (|A∩B| ≤ min and |A∪B| ≥ max), so pairs whose size ratio falls
    below t − 1e-6 are PROVABLY below the rounded ≥ t gate (the reported
    jaccard is round-half-up to 6 digits; the 1e-6 slack covers the
    rounding window) and are dropped BEFORE the gram fan-out — the
    returned pairs still carry their exact Jaccard, and every pair whose
    ROUNDED jaccard reaches t survives; only provably-sub-threshold
    pairs vanish from the output. The fan-out this avoids is the verify
    stage's whole cost: each surviving pair costs O(|A|+|B|) joined gram
    rows, and an LSH candidate set over a template-heavy corpus is
    dominated by low-J banding collisions (measured at sf0.1, recall-first
    (8,4) banding: 870,708 candidates, 99.9% at J<0.3, 256 true pairs at
    t=0.8 — the bound drops 57% of the pairs before the fan-out and cuts
    the verify stage 80.1 → 46.7 s; BENCH.md "dedup_corpus stage
    profile"). None (default) = every input pair reported, the
    oracle-checked contract.

    NOT a lazy plan builder: the candidate docs' gram-array table is
    eagerly materialized at CALL time (one small Spark job — a
    load-bearing lineage cut, see the inline comment). Callers that only
    want to inspect the plan pay that job.

    Shingles are per-doc DISTINCT STRING arrays of the normalized text
    (no 64-bit hashing — a hash collision would change the exact count
    the DuckDB oracle checks).

    Shape (r7 rewrite, guide §2.3/§2.4 — shuffle fewer bytes / remove the
    fan-out shuffle): the former formulation exploded every candidate
    doc's grams and computed |A∩B| with a pairs⨝grams equi-join — the
    joined row count was Σ_pairs(|A|+|B|) (64M rows at sf0.1), all of it
    shuffled on (id_b, gram). Now each candidate doc carries ONE row with
    its sorted-free distinct-gram ARRAY; pairs pick up both arrays via
    two small joins (AQE broadcasts the materialized gram table when it
    fits) and |A∩B| = size(array_intersect(...)) is computed IN-ROW by
    codegen — per-pair cost is the same O(|A|+|B|) hash-set build, but no
    64M-row exchange exists at all. Measured at sf0.1 (212k surviving
    pairs): verify stage 27.9 → ~3 s. Per-row memory is O(doc grams),
    bounded by the pipeline's MAX_HTML_BYTES-capped doc sizes."""
    n = LSH_CONFIG["n"]
    # spread a single-task doc scan before the gram-array build (the
    # same §2.5 guard as the pair side below; no-op for exchange-bearing
    # or well-partitioned inputs)
    from .spread import ensure_parallelism

    df = ensure_parallelism(df)
    # restrict the doc side to ids appearing in SOME candidate pair before
    # any text work: a doc in no pair cannot reach the output (every
    # downstream join is inner on pair ids), and at corpus scale the
    # candidate docs are a vanishing fraction of the input — without this
    # the gram-array build runs over the WHOLE corpus only for the pair
    # joins to drop it. No checkpoint of `df` is needed: the gram table
    # below is materialized once, so a spliced-in pair plan runs once.
    ids = (pairs.select(F.col("id_a").alias(id_col))
           .unionByName(pairs.select(F.col("id_b").alias(id_col)))
           .distinct())
    # spread the per-pair work across the cluster BEFORE the heavy phase:
    # candidate-pair lists arrive from materialization points whose
    # partitioning reflects their (tiny) byte size, not their CPU cost —
    # AQE's byte-based coalescing leaves a 460k-pair verify on 1-3 tasks
    # (measured at sf0.1: the whole verify ran on ONE core). Hash-spread
    # by the pair key at the session's shuffle-partition width (the
    # scale-config knob); the shuffle itself is a few bytes per pair.
    # Explicit-N repartition so AQE cannot re-coalesce it (guide §2.5:
    # under-parallel input → repartition right after it).
    n_spread = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pairs = pairs.repartition(n_spread, "id_a", "id_b")
    pre = df.join(ids, id_col, "left_semi").select(
        F.col(id_col).alias("id"),
        normalized_text_expr(F.col(text_col)).alias("__t"))
    idx = F.sequence(F.lit(1),
                     F.greatest(F.length("__t") - (n - 1), F.lit(1)))
    raw = F.transform(idx, lambda i: F.col("__t").substr(i, F.lit(n)))
    # materialized ONCE (one row per candidate doc, a few KB each): the
    # pair joins below reference it twice (id_a / id_b sides) and the
    # prefilter twice more — without the checkpoint each reference
    # re-runs the semi-join + normalize + gram build, and AQE would not
    # see the (small) true size that lets it pick broadcast joins.
    gtab = pre.select("id", F.array_distinct(raw).alias("__gs")) \
        .localCheckpoint(eager=True)
    sizes = gtab.select("id", F.size("__gs").alias("sz"))
    if min_jaccard is not None:
        pairs = (
            pairs.join(sizes.select(F.col("id").alias("id_a"),
                                    F.col("sz").alias("__sa")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("sz").alias("__sb")), "id_b")
            # slack bound: the unrounded min >= t*max would drop a
            # boundary pair (J in [t-5e-7, t), reachable only at
            # >=1e6-shingle docs — exactly the corpus-scale regime) that
            # the round-half-up-6 gate keeps, making output depend on
            # whether the prefilter is on — see jaccard_size_bound_expr
            .where(jaccard_size_bound_expr(
                F.col("__sa"), F.col("__sb"), min_jaccard))
            .select("id_a", "id_b")
        )
    # Join-strategy pick (guide §3.1), decided from a MEASURED bound, not
    # an estimate: a candidate set big enough to miss the 10 MB
    # auto-broadcast threshold silently flips both array joins to
    # sort-merge, and an SMJ ships a full gram ARRAY per PAIR through the
    # id_b exchange — measured 10× the gram-table bytes at a 50k-doc
    # corpus. One cheap agg over the materialized gram table bounds its
    # broadcast size; under `JACCARD_BROADCAST_BYTES` (256 MB — guide:
    # a few hundred MB broadcast is fine; both sides broadcast, so the
    # executor cost is ~2×) the pairs stream through two BroadcastHash
    # joins and NO array ever crosses an exchange. Above the bound the
    # SMJ fallback stands (at warehouse scale, slice the pair list and
    # broadcast per slice — documented, not implemented).
    # measured in BYTES, not characters (a CJK-heavy corpus is 3× bigger
    # than its char count): payload via octet_length, + 16 B/element of
    # array/offset overhead. One small job over the materialized table.
    elem_bytes = F.aggregate(
        F.col("__gs"), F.lit(0).cast("long"),
        lambda a, x: a + F.coalesce(F.octet_length(x), F.lit(0))
        .cast("long"))
    # the same job checks the precondition that `id_col` uniquely keys
    # the candidate docs: the array joins would emit one output row per
    # duplicate-id row
    stats_row = gtab.agg(F.sum(elem_bytes).alias("b"),
                         F.sum(F.size("__gs")).alias("c"),
                         F.count("*").alias("n"),
                         F.countDistinct("id").alias("d")).collect()[0]
    if stats_row["n"] != stats_row["d"]:
        raise ValueError(
            f"ngram_jaccard_pairs: {id_col!r} must uniquely key df; "
            f"{stats_row['n'] - stats_row['d']} duplicate rows among the "
            f"candidate docs")
    est_bytes = (stats_row["b"] or 0) + 16 * (stats_row["c"] or 0)
    fits = est_bytes <= JACCARD_BROADCAST_BYTES
    ga = gtab.select(F.col("id").alias("id_a"), F.col("__gs").alias("__ga"))
    gb = gtab.select(F.col("id").alias("id_b"), F.col("__gs").alias("__gb"))
    if fits:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    else:
        # the measured bound decides, not AQE: its 10 MB size threshold
        # would still broadcast a gram table the bound refuses
        ga, gb = ga.hint("merge"), gb.hint("merge")
    # two-step projection: __ni is referenced twice by the jaccard
    # formula, and size(array_intersect) is non-cheap — staging it as an
    # attribute keeps CollapseProject from inlining (and thus evaluating)
    # the intersection twice per row.
    # array_compact strips the NULL gram a NULL-text doc carries (its
    # array is exactly [NULL] — substr of a NULL string): the former
    # equi-join could never match a NULL gram, so two NULL-text docs
    # reported jaccard 0.0, while array_intersect treats NULL elements
    # as equal and would report 1.0 (r7 review finding). Sizes keep
    # counting the NULL gram, exactly like the old relational count.
    staged = (
        pairs.join(ga, "id_a").join(gb, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect(F.array_compact("__ga"),
                                     F.array_compact("__gb"))).alias("__ni"),
            (F.size("__ga") + F.size("__gb")).alias("__sab"),
        )
    )
    return staged.select(
        "id_a", "id_b",
        F.round(F.col("__ni") / (F.col("__sab") - F.col("__ni")), 6)
        .alias("jaccard"),
    )


def dedup_lines_corpus(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """C4-style CORPUS-level line deduplication (Raffel et al. 2020 §2.2
    'we discarded all but one of any three-sentence span occurring more than
    once' — here at line granularity, the common web-pipeline variant):
    drop every line whose exact text occurs more than once across the
    whole corpus (boilerplate: nav text, cookie banners, repeated
    section stubs), reassemble each document's remaining lines in order.

    Blank lines are never counted or dropped (they'd trivially repeat).

    Scale shape (100 TB): Generate (no shuffle) → hash-aggregate on line
    (shuffle ∝ distinct non-blank lines, map-side partial counts) →
    LEFT ANTI join lines⟕dup_lines (shuffle on line; boilerplate keys are
    the HOT keys but anti-join distributes BY line so each hot line's
    occurrences co-locate and are dropped locally) → per-doc reassembly
    (shuffle ∝ surviving lines) → join back to the docs table on id.
    Returns the input columns + text_deduped, n_lines_kept, n_lines_dropped.

    PRECONDITION: `id_col` must uniquely key `docs` rows (use the url, not
    a content hash — duplicate ids would merge documents in the reassembly
    groupBy). Same contract-documentation discipline as asof_join's
    tiebreak (SURVEY §7.4.1).
    """
    # NOTE (r7): deliberately NOT ensure_parallelism-guarded — the line
    # split/posexplode is byte-cheap next to the gram folds, and the
    # added repartition measured a net LOSS at sf0.1 (0.77 → 1.22 s).
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("__pos", "__line"),
    )
    dup_lines = (
        lines.where(F.length("__line") > 0)
        .groupBy("__line").agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= 2)
        .select("__line")
    )
    survivors = lines.join(dup_lines, "__line", "left_anti")
    rebuilt = survivors.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("text_deduped"),
        F.count("*").alias("n_lines_kept"),
    )
    n_total = F.size(F.split(F.col(text_col), "\n", -1))
    return (
        docs.join(rebuilt, docs[id_col] == rebuilt["__id"], "left")
        .drop("__id")
        .withColumn("text_deduped", F.coalesce("text_deduped", F.lit("")))
        .withColumn("n_lines_kept",
                    F.coalesce("n_lines_kept", F.lit(0)).cast("int"))
        .withColumn("n_lines_dropped",
                    (n_total - F.col("n_lines_kept")).cast("int"))
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an (id_a, id_b) near-duplicate pair list
    → (id, component) with component = MIN node id in the cluster. The
    tail stage of every dedup pipeline: LSH/phash emit PAIRS, but dropping
    duplicates needs CLUSTERS (keep one canonical doc per component). NOT
    a lazy plan builder: at call time one bounded eager job fetches up to
    `DRIVER_EDGES`+1 pairs (see below), and the distributed fallback runs
    its rounds eagerly too — pass a materialized pair table.

    Spark-first: iterative min-label propagation — each round joins the
    (undirected) edge list against current labels and takes the min label
    over {self} ∪ neighbors. Rounds needed = graph diameter; near-dup
    clusters are shallow (template families — diameter ≤ ~3), so this
    converges in a handful of rounds; `MAX_CC_ROUNDS` bounds pathological
    chains. Convergence is detected by a per-round changed-count — one
    driver-side scalar per round (control plane only, never row data).

    At 10^12 scale each round is one shuffle of |E| on node id; for very
    large graphs swap in alternating large-star/small-star (Kiveris et al.
    2014) — same join primitive, fewer rounds on long chains.

    `DRIVER_EDGES` (r7): SMALL-GRAPH FAST PATH. Near-dup pair lists are
    usually tiny next to the corpus (a few true pairs per thousand docs),
    and each propagation round of the loop costs a join + shuffle +
    localCheckpoint + a count job — pure scheduling overhead when |E| is
    small (measured ~2 s for a 241-edge graph at sf0.1). When a BOUNDED
    probe (`limit(DRIVER_EDGES+1).collect()` — never an unbounded collect)
    shows the edge list fits, solve with a driver-side union-find instead:
    identical min-label output (union-find tracks the min id per root;
    Python's str ordering equals Spark's UTF8 binary ordering because
    UTF-8 preserves code-point order), bounded memory (~50 B/edge, ≤10 MB
    at the bound); at corpus scale a big pair list simply exceeds the
    bound and takes the loop.
    """
    # ONE bounded job decides the path AND fetches the edges (a separate
    # count-then-collect would execute the caller's pair plan twice):
    # len == DRIVER_EDGES+1 ⇒ the graph exceeds the bound, discard and
    # take the distributed loop.
    rows = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")) \
        .limit(DRIVER_EDGES + 1).collect()
    if any(r["a"] is None or r["b"] is None for r in rows):
        # NULL ids would crash Python's `<` in union-by-min; the
        # distributed loop tolerates null edges (a null key never joins),
        # so odd inputs keep their pre-r7 behavior instead of raising
        rows = None
    if rows is not None and len(rows) <= DRIVER_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min: the min id becomes the root, so the root
                # IS the component label (same semantics as the loop)
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # built from Arrow so it plans as a LocalTableScan, not a pickled
        # RDD that every consumer re-runs in Python workers
        ids = list(parent)
        schema = pairs.select(F.col("id_a").alias("id"),
                              F.col("id_a").alias("comp")).schema
        return pairs.sparkSession.createDataFrame(
            pa.table({"id": ids, "comp": [find(x) for x in ids]}), schema)
    # materialized once: every round joins `edges`, and without the
    # checkpoint each round would re-run the caller's pair plan
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
        .distinct()
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
    )
    # MAX_CC_ROUNDS propagation rounds + 1 certification round:
    # convergence is certified by a zero-change round, so a graph
    # converging in EXACTLY MAX_CC_ROUNDS rounds still certifies (and
    # returns) rather than raising.
    for _ in range(MAX_CC_ROUNDS + 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src").agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"],
                        "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp")))
                .alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("__changed"),
            )
        )
        # localCheckpoint TRUNCATES LINEAGE — without it each round nests
        # the whole previous plan and Catalyst re-analysis blows up
        # super-linearly with iteration count (the standard iterative-Spark
        # trap). On a real cluster use reliable checkpoint() instead so a
        # lost executor can't lose label state.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    else:
        # exhausting the rounds with changes still flowing means a
        # component of larger diameter got SPLIT labels — wrong answers
        # that look converged. Fail loudly instead (raise the bound or
        # switch to large-star/small-star for long-chain graphs).
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ROUNDS} "
            f"rounds ({changed} labels still changing); component diameter "
            "exceeds MAX_CC_ROUNDS — raise it or use star-contraction for "
            "chain graphs"
        )
    return labels.select("id", "comp")


def dedup_keep_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep exactly one `doc_id` per near-dup component of the (id_a,
    id_b) pairs (the MIN id — a deterministic canonical pick) plus every
    unpaired document. The components table is usually tiny next to the
    corpus (only paired docs appear in it), so the join back is
    broadcast-friendly."""
    drop = _non_root_ids(pairs).withColumnRenamed("id", "doc_id")
    return docs.join(drop, "doc_id", "left_anti")


def _non_root_ids(pairs: DataFrame) -> DataFrame:
    """(id) of every paired node that is not its component's min-id root
    — the drop set of keep-canonical."""
    comp = connected_components(pairs)
    return comp.where(F.col("id") != F.col("comp")).select("id")


def _exact_staged(docs: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """The exact-dedup result MATERIALIZED before the near-dup fan-out
    (each consumer would otherwise re-run the exact lane's rank() window)
    and REPARTITIONED by id at the session's shuffle width: the window's
    byte-coalesced output is ONE partition at sf0.1, and every CPU-heavy
    consumer would run single-core (guide §2.5).

    Raises when one id keys two survivors: the verify's array joins and
    the admit's canon table need one row per id. The check is a per-id
    count observed on the checkpoint job (observed metrics refuse
    DISTINCT), on the repartition's own partitioning: no job, no shuffle."""
    n_spread = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    per_id = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    obs = Observation()
    out = exact_dedup(docs, text_col, id_col).drop("content_sha") \
        .repartition(n_spread, id_col).withColumn("__n", per_id) \
        .observe(obs, F.count(F.when(F.col("__n") > 1, 1)).alias("rows")) \
        .drop("__n").localCheckpoint(eager=True)
    if obs.get["rows"]:
        raise ValueError(
            f"near-dup dedup: {id_col!r} must uniquely key the exact "
            f"survivors; {obs.get['rows']} rows share an id with another")
    return out


def _near_dup_drops(out: DataFrame, buckets: DataFrame, id_col: str,
                    text_col: str,
                    store: tuple[str, str] | None = None) -> DataFrame:
    """(id) of the exact survivors `out` (`_exact_staged`) that the
    near-dup chain of `dedup_corpus` and the admit drops, from their
    (id, band, bucket) `buckets` under `LSH_CONFIG`. Candidates share a
    bucket (`bucket_pairs`, capped at `MAX_BUCKET`); with `store` =
    (store_dir, canon_dir), a store with rows and a canon table, the
    buckets also probe the store's bp partitions, each hit a cross pair
    (batch id, owner id). One Jaccard pass at `JACCARD_THRESHOLD`
    verifies all. Dropped: the non-root ids of the components over the
    verified within-batch pairs (keep-canonical: min id), plus every doc
    verified against a canonical one; cross pairs stay out of the
    components, so a root the store rejects does not free its near-dups."""
    cands = bucket_pairs(buckets, MAX_BUCKET)
    texts = out.select(id_col, text_col)
    if store is not None:
        from ..streaming.minhash import probe_store

        store_dir, canon_dir = store
        spark = out.sparkSession
        seen = probe_store(spark, store_dir, buckets)
        cands = cands.unionByName(
            buckets.join(seen.select("band", "bucket",
                                     F.col("id").alias("id_b")),
                         ["band", "bucket"])
            # id == id_b is an ORPHAN self-collision (batch and canon ids
            # are disjoint after the resume anti-join): this doc's own
            # crashed attempt, not a duplicate (admit docstring step 3)
            .where(F.col("id") != F.col("id_b"))
            .select(F.col("id").alias("id_a"), "id_b").distinct())
        # the verify's pair-id semi-join reads only the hits' canon rows
        texts = texts.unionByName(
            spark.read.parquet(canon_dir).select(id_col, text_col))
    # materialized: the verify reads the pairs four times, each re-running
    # the bucket self-join and the store read; MAX_BUCKET bounds them
    cands = cands.localCheckpoint(eager=True)
    # materialized (true pairs only): the component pass runs its input
    # twice (bounded fetch + fallback), and the cross half reads it again
    verified = (
        ngram_jaccard_pairs(texts, cands, id_col=id_col, text_col=text_col,
                            min_jaccard=JACCARD_THRESHOLD)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b").localCheckpoint(eager=True)
    )
    if store is None:
        return _non_root_ids(verified)
    batch_ids = out.select(F.col(id_col).alias("id_b"))
    return _non_root_ids(verified.join(batch_ids, "id_b", "left_semi")) \
        .unionByName(verified.join(batch_ids, "id_b", "left_anti")
                     .select(F.col("id_a").alias("id"))) \
        .distinct()


def dedup_corpus(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """The COMPLETE near-duplicate removal pipeline in one call — the
    published training-data recipe (Lee et al. 2022 / RefinedWeb) composed
    from this module's tested stages:

        exact/normalized dedup            (one rank() window, min-id winner)
      → MinHash-LSH candidate pairs       (banded bucket join, skew-capped)
      → exact n-gram Jaccard VERIFY       (drop false LSH candidates)
      → connected components              (pairs → clusters, min-label)
      → keep-canonical                    (min id per cluster + unpaired)

    Verification matters: LSH banding includes low-similarity collisions;
    the Jaccard gate at `JACCARD_THRESHOLD` makes the drop decision exact
    — and it runs in the char n-gram space the LSH stage approximated, as
    the published recipes require. The signature config and the skew cap
    are the module's `LSH_CONFIG` and `MAX_BUCKET`.

    It is the incremental admit's chain without a store: `_exact_staged`
    (which raises on duplicate ids), then `_near_dup_drops`, then one
    anti-join. Returns the deduplicated corpus (all input columns).
    """
    out = _exact_staged(docs, id_col, text_col)
    drop = _near_dup_drops(
        out, lsh_buckets(out, id_col, text_col, **LSH_CONFIG), id_col,
        text_col)
    return out.join(drop.withColumnRenamed("id", id_col), id_col,
                    "left_anti")


def dedup_corpus_incremental(increment: DataFrame, store_dir: str,
                             canon_dir: str, id_col: str = "doc_id",
                             text_col: str = "text",
                             stats: dict | None = None) -> DataFrame:
    """INCREMENTAL near-dedup (r4 verdict #4): admit a new batch against the
    accumulated canonical corpus WITHOUT re-shingling it. `dedup_corpus`
    recomputes signatures over the full corpus every run; a daily increment
    at 100 TB must instead pair new docs against a PERSISTED bucket index:

        1. exact dedup of the increment (`_exact_staged`) and ONE
           checkpointed (id, band, bucket, bp) table over it, which feeds
           the candidates, the store probe and the store append,
        2. candidates, verify and drop set are `_near_dup_drops`, the
           chain `dedup_corpus` runs, given the store: the buckets also
           probe the store read PRUNED to their bp partitions (bp =
           pmod(xxhash64(band,bucket), P)). Probing with all exact
           survivors admits the same set as probing only the roots:
           buckets and Jaccard depend on the two texts only,
        3. admitted docs' (band, bucket, id, bp) rows are appended to the
           store FIRST, then the docs to `canon_dir` — the crash-safe
           order. An ORPHAN bucket row (id absent from canon) is
           semantically inert: a collision with it never verifies (the
           Jaccard stage finds no canonical text, and a pair that cannot
           verify never drops anything), so a crash between the two
           appends costs nothing — the retried increment collides with
           its own orphan buckets only as SELF-pairs, which are excluded
           from verification (id_a == id_b proves a prior attempt by this
           very doc, not a duplicate), so it is admitted exactly once.
           The REVERSE order is the silent-loss shape: canon rows with no
           index entries would let every future near-duplicate of them
           probe, miss, and be admitted forever. A COMPLETED run is
           retry-idempotent through resume semantics: ids already present
           in `canon_dir` are anti-joined out of the increment up front
           (same id ⇒ already admitted — the pipeline's manifest-resume
           rule), which also guarantees batch and canonical ids are
           disjoint, so a store pair owned by a batch id (another batch
           doc's orphan) is classed with the within-batch pairs.

    The whole run holds the writer lease on the STORE's parent directory
    (plans/lease.py — the same lock the store's maintenance job
    `compact_lsh_store` takes): two concurrent increments would each probe
    before the other appends and both admit near-duplicates of the
    other's admissions.
    Co-locate `canon_dir` under the same parent so one lease covers both
    tables.

    This is the store's one admission path; the streaming gate
    (`streaming.minhash.run_streaming_dedup`) calls it once per
    micro-batch. The store lives in streaming/minhash.py (`open_store`
    … `append_store`): (band, bucket, id, bp) rows, where the OWNER id
    tells the verify stage which canonical doc a collision points at. The
    recipe's `LSH_CONFIG` rides the store meta and is checked on every run
    (a store written under another config holds incomparable bucket
    values and would silently admit every duplicate), as is the
    partitioned layout; the store is read with the bp modulus its meta
    records. An increment whose exact survivors repeat an id raises
    before anything is appended (`_exact_staged`).

    Semantics are FIRST-SEEN GREEDY, the standard incremental trade-off:
    equal to one-shot `dedup_corpus` over the accumulated corpus except
    (a) earlier batches' canonicals never retract (a later batch cannot
    merge two already-admitted components), and (b) a new doc whose only
    similarity path to the corpus runs through a DROPPED (non-canonical)
    document is admitted — the store indexes canonical survivors only.
    Both are the documented behavior of production dedup services built on
    a seen-store (the reference's persistent dedup DB has the same
    property, deduplicator.py:45-65).

    Returns the ADMITTED docs (also appended to `canon_dir`). When a
    `stats` dict is passed it is filled IN PLACE with
    ``{"n_already_admitted": <int>}`` — the count of increment ids removed
    by the resume anti-join, measured UNDER the writer lease against the
    same canon snapshot the dedup reads (a caller counting it before
    acquisition races a concurrent increment's commit and skews the split
    between already-admitted and dedup-dropped — r5 verdict #6).
    """
    from ..streaming.minhash import append_store, open_store, store_buckets

    spark = increment.sparkSession
    with WriterLease(os.path.dirname(store_dir.rstrip("/")) or ".") \
            as lease:
        n_parts, has_store = open_store(store_dir)
        recover_store(canon_dir)

        # resume semantics (retry of a COMPLETED run): an id already in
        # the canonical corpus is already admitted — anti-join it out up
        # front. This also makes batch and canonical ids provably
        # disjoint, so the only same-id candidate pairs below are orphan
        # self-collisions.
        has_canon = os.path.isdir(canon_dir) and any(
            f.endswith(".parquet") for f in os.listdir(canon_dir))
        if has_canon:
            canon_ids = spark.read.parquet(canon_dir).select(id_col)
            if stats is not None:
                # measured here, under the lease, against the exact
                # snapshot the anti-join reads — see the docstring's
                # `stats` contract
                stats["n_already_admitted"] = increment.join(
                    canon_ids, id_col, "left_semi").count()
            increment = increment.join(canon_ids, id_col, "left_anti")
        elif stats is not None:
            stats["n_already_admitted"] = 0

        out = _exact_staged(increment, id_col, text_col)
        buckets = store_buckets(out, id_col, text_col, n_parts)

        # `has_store and not has_canon` is the FIRST-EVER batch retried
        # after a crash between the two appends: every store row is an
        # orphan, so no collision can verify — skip the probe (it would
        # crash on the missing canon_dir) and admit the batch. A LOST or
        # mispointed canon table looks the same, so the orphan hypothesis
        # is VERIFIED first: in the crash window every owner id comes
        # from this very increment; any foreign id ⇒ refuse loudly.
        if has_store and not has_canon:
            foreign = (
                spark.read.parquet(store_dir).select("id")
                .join(increment.select(F.col(id_col).alias("id")),
                      "id", "left_anti")
                .limit(1).count())
            if foreign:
                raise ValueError(
                    f"LSH store at {store_dir} carries owner ids that are "
                    f"not in this increment, but canon_dir {canon_dir} has "
                    "no data — the store references canonical documents "
                    "that do not exist (lost or mispointed canon table?). "
                    "Refusing to probe-skip: that would silently admit "
                    "every near-duplicate of the indexed corpus. Restore "
                    "canon_dir or rebuild the store.")
        # materialized (distinct ids — tiny, AQE-coalesced): the store
        # append, the canon write and the caller's read of the result each
        # anti-join it, and would otherwise each re-run the drop-set joins
        dropped = _near_dup_drops(
            out, buckets, id_col, text_col,
            (store_dir, canon_dir) if has_store and has_canon else None) \
            .localCheckpoint(eager=True)
        admitted = out.join(dropped.withColumnRenamed("id", id_col), id_col,
                            "left_anti")
        admitted_buckets = buckets.join(dropped, "id", "left_anti")
        # NO eager checkpoint here: the appends below mutate canon_dir and
        # store_dir, but every path into `admitted` / `admitted_buckets`
        # is lineage-cut ABOVE any store/canon read by the `out` (resume
        # anti-join), `buckets` and `dropped` (probe, canon texts)
        # checkpoints. A canon/store read added below those cuts needs its
        # own checkpoint.
        # commit-point validation before publishing (same rule as the
        # pipeline): a stolen-stale lease must abort here, not interleave
        # its appends with the new owner's
        lease.assert_held()
        lease.touch()
        # BUCKETS FIRST, canon second — the crash-safe order (see
        # docstring step 3: orphan bucket rows are inert; canon rows
        # without index entries would silently admit every future
        # near-dup of them)
        append_store(store_dir, n_parts, admitted_buckets)
        admitted.write.mode("append").parquet(canon_dir)
        return admitted


def decontaminate_flags(docs: DataFrame, benchmark_grams: DataFrame,
                        hashed: bool = False) -> DataFrame:
    """Eval-set DECONTAMINATION (the training-data hygiene op: drop
    documents that contain any n-gram from the benchmark/eval corpus —
    cf. GPT-3 §C / PaLM app. training-set filtering): per-doc token
    13-grams of `text` joined against the benchmark gram set; returns
    `doc_id`-keyed docs + n_hits + contaminated flag.

    `benchmark_grams` must have a `gram` string column (small — broadcast).

    `hashed=False`: explode the gram STRINGS and equi-join — the
    bounded-correctness formulation (exact, oracle-checked) whose Generate
    copies ~13× the text volume per doc.
    `hashed=True`: the corpus-scale formulation — xxhash64 each gram INSIDE
    the row projection (the gram array never leaves the row), explode the
    resulting int64 array, join on longs. Identical flags up to 64-bit
    hash collisions (verified flag-identical over the sf0.01 corpus in
    tests/test_dedup_similarity.py).

    When it pays (BENCH.md has both measured at sf0.1): in the BROADCAST
    regime both formulations pipeline Generate → join → partial-agg in one
    stage with no materialization, so they bench within noise of each
    other — the gram fold dominates. The hashed path is the one that
    SURVIVES leaving that regime: when the benchmark set outgrows the
    broadcast threshold (full eval-suite decontamination) the join
    becomes a shuffle whose exchanged bytes are 8/gram instead of ~80
    (13-gram strings), and long equality beats string equality in the
    join hash table either way.
    """
    from .spread import ensure_parallelism

    # the 13-gram fold + explode is CPU-bound (measured 3.0 → 0.6 s at
    # sf0.1 once spread) — guard against single-task scans (spread.py)
    docs = ensure_parallelism(docs)
    if hashed:
        gh = F.transform(token_ngrams_expr(F.col("text")),
                         lambda g: F.xxhash64(g))
        grams = docs.select(F.col("doc_id").alias("__id"),
                            F.explode_outer(gh).alias("__gh"))
        bench = (benchmark_grams.select(F.xxhash64("gram").alias("__gh"))
                 .distinct())
        hits = (
            grams.join(F.broadcast(bench), "__gh")
            .groupBy("__id").agg(F.count("*").alias("n_hits"))
        )
    else:
        grams = docs.select(
            F.col("doc_id").alias("__id"),
            F.explode_outer(token_ngrams_expr(F.col("text")))
            .alias("gram"))
        hits = (
            grams.join(F.broadcast(benchmark_grams.select("gram").distinct()),
                       "gram")
            .groupBy("__id").agg(F.count("*").alias("n_hits"))
        )
    return (
        docs.join(hits, docs["doc_id"] == hits["__id"], "left").drop("__id")
        .withColumn("n_hits",
                    F.coalesce("n_hits", F.lit(0)).cast("int"))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )
