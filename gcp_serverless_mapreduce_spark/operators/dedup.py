"""Deduplication operators over the ``documents`` table — the LLM-corpus
workload the 100 TB deployment exists for (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup).

Generalizes the reference's only dedup ops — per-book distinct
(split.go:119-133) and set-union aggregation (reduce.go:102-115) — to
corpus-scale document identity.

Cross-engine determinism: all hashing is md5 (shared with the DuckDB
oracle); MinHash permutations are salts, a permutation's value is the
lexicographic min of md5 hex strings (valid min-hash over a uniform hash).

Scale design:
- the per-document kernels (shingles, inline band hashes, the span
  ladder) are Arrow-batched pandas UDFs, measured faster than their
  interpreted higher-order-function twins; everything around them is
  expression-level (codegen'd);
- LSH candidate generation is a self-equi-join on (band, band_hash) — a
  shuffle keyed on the band hash, never an O(n^2) cross join;
- exact Jaccard runs only on pairs sharing >= 1 shingle (inverted-index
  join), the standard sparse-similarity plan;
- hot band-hashes (boilerplate/empty docs) are capped BEFORE the pair
  join (``max_bucket``): a bucket of m identical docs otherwise emits
  m^2/2 pair rows in one task — the one quadratic blow-up this plan
  admits.  AQE skew-join covers moderate skew; the cap bounds the
  degenerate case.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text import TOKENS_SQL, nonempty_tokens, py_tokens, tokens

HEX = "0123456789abcdef"


def shingle_array(k: int = 3):
    """Distinct k-word shingles of one document as an array column.

    The per-doc set semantics (the reference's per-book distinct P4) is
    computed *inside the row* — no shuffle ever happens for dedup scoped
    to a document.

    An Arrow-batched pandas UDF, measured 9× FASTER than the
    column-expression form (tests/dedup_twins.py, its reference) at
    sf0.1 (0.34 s vs 3.02 s for the full shingle explode): Spark's
    higher-order functions (transform/slice/concat_ws lambdas) are
    *interpreted*, never whole-stage-codegen'd, while the Python loop
    runs once per Arrow batch.

    Token semantics are EXACT (:func:`py_tokens` == ``tokens``,
    empty tokens kept), not merely ASCII-equivalent; NULL text takes the
    expression twin's ``size(NULL)``-guard branch to an empty array.
    ``SHINGLE_CTE`` is the DuckDB twin.
    """
    @pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = py_tokens(t)
            out.append(list({" ".join(toks[i:i + k])
                             for i in range(len(toks) - k + 1)}))
        return pd.Series(out)

    return _shingles("text")


# DuckDB twin of the explode(shingle_array(3)) rows (doc, shingle);
# [i:i+2] is DuckDB's 1-based inclusive slice = 3 elements.
SHINGLE_CTE = f"""
WITH toks AS (
    SELECT doc_id AS doc, {TOKENS_SQL} AS t
    FROM documents),
sh AS (
    SELECT DISTINCT doc,
           unnest(list_transform(generate_series(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks)
"""


def word_shingles(docs: DataFrame, k: int = 3,
                  spread: bool = True) -> DataFrame:
    """-> (doc, shingle) rows, distinct per doc (exploded shingle_array).

    The scan is spread first (guarded, tables.spread_small_scan): the
    shingle kernel + explode is the CPU-heavy stage of every consumer
    (minhash/jaccard/containment/novelty) and must not serialize on an
    under-parallelized single-row-group scan.  All downstream folds are
    exact (string grams, md5 mins, counts), so the spread cannot perturb
    results.

    ``spread=False`` for callers that hash-repartition the shingle rows
    immediately (the prefix-filter joins): there the heavy per-shingle
    work already runs post-exchange on every core, so the extra
    round-robin exchange is pure overhead — an alternated warm A/B at
    sf0.1 measured it 0.3-0.6 s SLOWER per query on that family
    (containment 2.31→1.71, jaccard_prefix 1.95→1.54, ngram_jaccard
    1.87→1.29 min-of-3 without the spread) while the min-agg consumers
    (minhash, novelty, simhash) keep their measured spread win.

    The explicit null filter on the doc id makes AQE EXCHANGE REUSE
    fire (r15): consumers that later join on the doc id get
    ``isnotnull(doc_id)`` pushed into their scan while window/self-join
    consumers don't, so the otherwise-identical shingle subtrees
    canonicalize DIFFERENTLY and the kernel + exchange materialize once
    per consumer (measured: jaccard_pairs ran the shingle pass twice,
    minhash_estimate_error four times — 3.60 s → 1.77 s warm at sf0.1
    from this one line).  Doc ids are non-null keys by fixture/contract
    and every pair-producing consumer is null-rejecting anyway (joins
    and ``doc_a < doc_b`` comparisons), so results are unchanged."""
    docs = docs.filter(F.col("doc_id").isNotNull())
    if spread:
        from ..tables import spread_small_scan
        docs = spread_small_scan(docs)
    # The shingle null filter exists for the same reuse reason: join
    # consumers infer ``isnotnull(shingle)`` from their equi-join key,
    # aggregate consumers don't, and the mismatched Filter node above
    # the kernel blocks stage reuse.  Kernel-built shingles are never
    # null, so this is a data no-op.
    return (docs
            .select(F.col("doc_id").alias("doc"),
                    F.explode(shingle_array(k)).alias("shingle"))
            .filter(F.col("shingle").isNotNull()))


def minhash_signatures(docs: DataFrame, num_perm: int = 8) -> DataFrame:
    """-> (doc, mh_0..mh_{num_perm-1}): per-doc MinHash signature; each
    permutation is min(md5(seed || '|' || shingle)) as a hex string.

    Plan choice, measured at sf0.1: explode → groupBy(doc).agg(min(...))
    with ONE shuffle beats the zero-shuffle pure-expression form
    (array_min of md5 transforms per row) ~2×: CollapseProject inlines
    the shingle-array expression into every signature column (num_perm
    recomputations per row), while the aggregation boundary materializes
    shingle rows once AND gives downstream consumers (LSH banding, the
    self-join) a reusable exchange.  Docs with < k tokens → no row.
    """
    sh = word_shingles(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"mh_{s}")
        for s in range(num_perm)
    ]
    return sh.groupBy("doc").agg(*aggs)


def banded_signatures(signatures: DataFrame, bands: int = 4,
                      rows_per_band: int = 2,
                      max_bucket: int | None = None) -> DataFrame:
    """-> (doc, band, band_hash): the LSH banding layout shared by the
    self-join candidate generator and the incremental-ingest probe.
    Band hash = md5 of the band's '|'-joined minhashes; ``max_bucket``
    keeps only the ``max_bucket`` smallest doc ids per (band, band_hash)
    bucket (rank within the bucket's own shuffle key — a sort inside
    the existing exchange, not a new one)."""
    band_cols = F.array(*[
        F.md5(F.concat_ws("|", *[
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]))
        for b in range(bands)
    ])
    banded = signatures.select(
        "doc", F.posexplode(band_cols).alias("band", "band_hash"))
    if max_bucket is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "band_hash").orderBy("doc")
        banded = (banded.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    return banded


def inline_band_hashes(num_perm: int = 8, bands: int = 4,
                       rows_per_band: int = 2):
    """Row-local LSH band hashes as ONE array<string> column — the
    zero-shuffle form of :func:`minhash_signatures` +
    :func:`banded_signatures` for contexts that must stay map-only
    (the streaming ingest probe: a stateless micro-batch stage cannot
    carry the explode -> groupBy exchange the batch path prefers).

    Bit-identical to the batch pair: mh_s = lexicographic min of
    md5(s|shingle) over the doc's distinct shingles (array_min on the
    transform == min() over exploded rows), band hash = md5 of the
    band's '|'-joined minhashes.  Docs with < k tokens get an EMPTY
    array, mirroring minhash_signatures' docs-without-signatures
    no-row contract.  The batch path's measured 2x CollapseProject
    recompute tax (minhash_signatures docstring) trades the other way
    here: per-batch rows are bounded and the stream must not shuffle,
    so row-local recompute is the right side of the trade.

    One Arrow-batched pandas UDF computes shingles, salted-md5 minima
    and band hashes per document in one Python pass; measured 4.6x
    FASTER than the expression form (tests/dedup_twins.py, its
    reference, pinned bit-identical by tests/test_streaming_dedup.py)
    at sf0.1 (2.6 s vs 11.8 s for the new-batch probe stage): Spark's
    higher-order functions are interpreted, never codegen'd, and the
    expression form recomputes the shingle array per minhash column."""
    if bands * rows_per_band > num_perm:
        raise ValueError("inline_band_hashes: bands*rows_per_band "
                         f"({bands * rows_per_band}) exceeds num_perm "
                         f"({num_perm})")
    import hashlib

    @pandas_udf("array<string>")
    def _bands(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = py_tokens(t)
            sh = {" ".join(toks[i:i + 3])
                  for i in range(len(toks) - 2)}
            if not sh:
                out.append([])
                continue
            mh = [min(hashlib.md5((f"{s}|" + x).encode()).hexdigest()
                      for x in sh)
                  for s in range(num_perm)]
            out.append([
                hashlib.md5(
                    "|".join(mh[b * rows_per_band:
                                (b + 1) * rows_per_band]).encode())
                .hexdigest()
                for b in range(bands)])
        return pd.Series(out)

    return _bands("text")


def incremental_dedup_route(new_docs: DataFrame, old_hashes: DataFrame,
                            old_bands: DataFrame, num_perm: int = 8,
                            bands: int = 4,
                            rows_per_band: int = 2) -> DataFrame:
    """The MAP-ONLY probe stage of incremental dedup — the per-row work
    a streaming ingest pays for each arriving document: content-md5 +
    row-local band hashes (:func:`inline_band_hashes`), then two
    broadcast left joins against the EXISTING corpus's fingerprint
    index (``old_hashes``: distinct ``h`` + ``_seen`` marker) and band
    index (``old_bands``: (doc, band, band_hash), bucket-capped).

    No aggregation, no state, no exchange before the sink: posexplode
    and broadcast-hash-joins are all row-local, so the stage composes
    with an append-mode streaming sink (the ``stream_static_enrich``
    topology).  posexplode_outer keeps < k-token docs as a null-band
    row so the exact face still covers every new doc.

    Scale assumption: the broadcast shape holds only while
    the OLD-corpus fingerprint/band indexes fit the broadcast threshold
    (md5 + band hashes are ~50 B/doc -> ~10^9 docs/TB of index; a
    steady 100 TB/day ingest outgrows that in weeks).  Past that, drop
    the two ``F.broadcast`` hints: the same left joins execute as
    shuffled hash joins bucketed on ``h`` / (band, band_hash), and with
    the index tables bucket-sorted on those keys the probe stays
    shuffle-free on the index side.  The routing semantics (and the
    oracle) are unchanged either way — broadcast is a physical hint
    here, not a correctness dependency.

    -> (doc_id, exact_dup, band, partner) rows; aggregate with
    :func:`incremental_dedup_finalize` (batch-side, over the sink)."""
    routed = (new_docs
              .select(F.col("doc_id"),
                      F.md5(F.col("text")).alias("h"),
                      inline_band_hashes(num_perm, bands, rows_per_band)
                      .alias("_bands"))
              .select("doc_id", "h",
                      F.posexplode_outer("_bands")
                      .alias("band", "band_hash")))
    partners = (old_bands.select(F.col("doc").alias("partner"),
                                 "band", "band_hash"))
    return (routed
            .join(F.broadcast(old_hashes), "h", "left")
            .join(F.broadcast(partners), ["band", "band_hash"], "left")
            .select("doc_id",
                    F.col("_seen").isNotNull().alias("exact_dup"),
                    "band", "partner"))


def incremental_dedup_finalize(rows: DataFrame) -> DataFrame:
    """Fold the probe stage's (doc, exact_dup, band, partner) rows into
    per-document decisions — batch-side over the materialized sink
    (cross-band DISTINCT partner counting is an aggregation, which an
    append-mode stateless stream must not carry).  Output schema ==
    :func:`incremental_dedup`, so both faces share one oracle."""
    return (rows.groupBy("doc_id")
            .agg(F.max("exact_dup").alias("exact_dup"),
                 F.countDistinct("partner").cast("long")
                 .alias("n_near_partners"))
            .select("doc_id", "exact_dup", "n_near_partners",
                    (F.col("exact_dup") | (F.col("n_near_partners") > 0))
                    .alias("is_dup")))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        rows_per_band: int = 2,
                        max_bucket: int | None = None) -> DataFrame:
    """-> (doc_a, doc_b, n_shared_bands): docs whose signatures collide in
    >= 1 band.  Band hash = md5 of the band's concatenated minhashes; the
    pair join shuffles on (band index, band hash) — sparse, never O(n^2).

    ``max_bucket`` is the hot-bucket guard: only the ``max_bucket``
    smallest doc ids of each (band, band_hash) bucket enter the pair join,
    so a degenerate bucket (m near-identical boilerplate docs) contributes
    O(max_bucket^2) pairs instead of O(m^2).  Deterministic (rank by doc
    id) and hence mirrorable in the SQL oracle.

    The cap is a bounded RECALL trade-off, not lossless: sharing one band
    (rows_per_band of the minhashes) does not itself make two docs
    near-dups, and a true near-dup pair whose members both rank past the
    cap in every bucket they share is dropped.  Size the cap well above
    the expected honest bucket size (fixture buckets are ~20; the cap is
    256) so only degenerate boilerplate buckets — where candidates are
    interchangeable anyway — get truncated.  The row_number partitions by
    the SAME key the join shuffles on, so the cap costs a sort within the
    existing exchange, not a new shuffle.
    """
    banded = banded_signatures(signatures, bands, rows_per_band, max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def jaccard_pairs(docs: DataFrame, threshold: float,
                  df_max: int = 128) -> DataFrame:
    """-> (doc_a, doc_b, jaccard) for pairs with Jaccard >= threshold.

    Inverted-index plan: join only on shared shingles, count intersections,
    then |A u B| = |A| + |B| - |A n B| from per-doc set sizes.  Set sizes
    are ``size(shingle_array)`` per row — no aggregate.  The size joins
    are left to AQE: at fixture scale they broadcast; at corpus scale
    (one row per doc — NOT broadcastable) they shuffle on the doc id the
    intersection side is already partitioned by.  Jaccard is a ratio of
    exact integers — deterministic across engines.

    ``df_max`` bounds the hot-shingle blow-up: a shingle present in m
    documents contributes m(m-1)/2 intersection rows in ONE join task —
    at corpus scale a boilerplate n-gram (license header, template
    sentence) has m in the millions and the self-join degenerates to
    all-pairs.  Shingles with document frequency > df_max are dropped
    from the intersection side (standard inverted-index stop-shingle
    pruning; at most quadratic in df_max per shingle), while the Jaccard
    DENOMINATORS keep the true uncapped set sizes, so the estimate only
    ever under-counts — a capped pair can be missed, never invented.
    The df filter is a count window over the shingle partitioning the
    exchange below already provides: no extra shuffle.
    """
    from pyspark.sql import Window

    # One explicit exchange on the join key: the tokenize+shingle explode
    # is computed exactly once — ReuseExchange feeds both self-join sides
    # (whose distribution it already satisfies) and the size aggregate.
    # Without it each consumer would re-scan and re-shingle the corpus
    # (measured +40% at sf0.1).
    shingles = (word_shingles(docs, spread=False)
                .repartition(F.col("shingle")))
    sizes = shingles.groupBy("doc").agg(F.count("*").alias("n"))
    capped = (shingles
              .withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
              .filter(F.col("_df") <= df_max)
              .drop("_df"))
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "doc_a", "n": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "n": "n_b"}), "doc_b")
        .withColumn("jaccard", F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_prefix(docs: DataFrame, threshold: float) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering — same output
    contract as :func:`jaccard_pairs` with ``df_max=None`` (no approximation),
    different candidate generation.

    Prefix filtering (SSJoin, Chaudhuri/Ganti/Kaushik 2006; All-Pairs,
    Bayardo/Ma/Srikant 2007): order every doc's shingle set by ONE global
    total order — ascending document frequency, ties by shingle — and keep
    only the first ``|S| - ceil(t*|S|) + 1`` shingles as the doc's
    *prefix*.  Any pair with ``J >= t`` has ``|A n B| >= ceil(t*max(|A|,
    |B|))``, and two sets whose overlap is >= alpha must share an element
    within their ``|S| - alpha + 1``-prefixes under a common order, so
    joining prefix-to-prefix loses no qualifying pair.

    Why this is the 100 TB answer where :func:`jaccard_pairs`'s ``df_max``
    cap is the approximation: rare shingles sort FIRST, so prefixes are
    built from the least-shared shingles — a boilerplate n-gram in
    millions of docs sorts last and never enters a prefix unless a doc is
    made of nothing but boilerplate.  The candidate join stays sparse
    without dropping any true pair.

    Verification avoids a second explode join: candidate pairs re-join the
    per-doc shingle ARRAYS (sorted, one row per doc — bounded by doc
    length) on each side and compute ``size(array_intersect(sa, sb))``
    JVM-side.  Two shuffles on doc id over the candidate frame, never the
    corpus.  Jaccard is a ratio of exact integers — deterministic
    cross-engine, so the DuckDB oracle can be the plain inverted-index SQL.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    # ceil(t * n) in EXACT integer arithmetic: double rounding of e.g.
    # 0.8*5 yields 4.0000000000000002 whose ceil is 5, silently shortening
    # the prefix by one and breaking completeness for pairs sitting
    # exactly at the threshold (J == t happens constantly for subset-like
    # near-dups).  t as a decimal-string Fraction makes ceil(t*n) =
    # (num*n + den - 1) div den exact.
    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator

    shingles = (word_shingles(docs, spread=False)
                .repartition(F.col("shingle")))
    with_df = shingles.withColumn(
        "_df", F.count("*").over(Window.partitionBy("shingle")))
    w_doc = Window.partitionBy("doc").orderBy(F.col("_df").asc(),
                                              F.col("shingle").asc())
    alpha = F.expr(f"({num} * _n + {den} - 1) div {den}")  # == ceil(t*_n)
    ranked = (with_df
              .withColumn("_rn", F.row_number().over(w_doc))
              .withColumn("_n", F.count("*").over(Window.partitionBy("doc"))))
    prefix = (ranked
              .filter(F.col("_rn") <= F.col("_n") - alpha + 1)
              .select("doc", "shingle"))
    cand = (prefix.alias("a")
            .join(prefix.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("doc_a"),
                    F.col("b.doc").alias("doc_b"))
            .distinct())
    sets = shingles.groupBy("doc").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh"),
        F.count("*").alias("n"))
    return (
        cand
        .join(sets.select(F.col("doc").alias("doc_a"),
                          F.col("sh").alias("sh_a"),
                          F.col("n").alias("n_a")), "doc_a")
        .join(sets.select(F.col("doc").alias("doc_b"),
                          F.col("sh").alias("sh_b"),
                          F.col("n").alias("n_b")), "doc_b")
        .withColumn("n_common",
                    F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("jaccard", F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_bits(docs: DataFrame, n_bits: int) -> DataFrame:
    """-> (doc, simhash): ``n_bits``-bit SimHash over the doc's distinct
    tokens (n_bits <= 60: md5 has 32 nibbles -> 128 derivable bits, and 60
    keeps ``sum(bit * 2^b)`` comfortably inside a signed 64-bit long).

    Bit b of a token = bit (b % 4) of hex nibble (b // 4) of md5(token);
    document bit b is the sign of sum(+-1) over tokens.  Pure integer
    expressions, mirrored verbatim in the DuckDB oracle.
    """
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    uniq = F.array_distinct(nonempty_tokens(F.col("text")))
    # Spread before the tokenize+md5 explode (integer bit sums are
    # partitioning-independent) — see word_shingles.
    from ..tables import spread_small_scan
    toks = (
        spread_small_scan(docs)
        .select(F.col("doc_id").alias("doc"),
                F.explode(uniq).alias("tok"))
        .withColumn("m", F.md5("tok"))
    )
    bit_sums = [
        F.sum(F.expr(
            f"(((instr('{HEX}', substring(m, {b // 4 + 1}, 1)) - 1) "
            f"div {2 ** (b % 4)}) % 2) * 2 - 1"
        )).alias(f"s_{b}")
        for b in range(n_bits)
    ]
    sums = toks.groupBy("doc").agg(*bit_sums)
    simhash = None
    for b in range(n_bits):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return sums.select("doc", simhash.cast("long").alias("simhash"))


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash (see simhash_bits) — the compact fingerprint query."""
    return simhash_bits(docs, 16)


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3, n_bits: int = 60,
                      bands: int = 4,
                      max_bucket: int | None = None) -> DataFrame:
    """-> (doc_a, doc_b, hamming): doc pairs whose ``n_bits``-bit SimHashes
    differ in <= ``max_hamming`` bits.

    Banded pigeonhole join (the standard simhash index): split the hash
    into ``bands`` contiguous bit-bands; any pair within hamming distance
    ``bands - 1`` shares at least one *exact* band value, so candidates
    come from ``bands`` equi-joins on (band, band_value) — a shuffle keyed
    on a 15-bit band value (2^15 buckets per band at the defaults), never
    an O(n^2) cross join.  Exact hamming (bit_count of xor) then filters
    candidates; both sides carry their hash through the join so no second
    join is needed.  ``max_bucket`` caps degenerate bands exactly like the
    LSH pair join (same row_number-in-exchange trick, no extra shuffle).

    Requires max_hamming <= bands - 1 for the pigeonhole guarantee.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole needs max_hamming <= bands - 1 "
            f"(got {max_hamming} > {bands - 1})")
    if n_bits % bands != 0:
        raise ValueError(f"n_bits {n_bits} not divisible by bands {bands}")
    width = n_bits // bands
    mask = (1 << width) - 1
    sim = simhash_bits(docs, n_bits)
    band_vals = F.array(*[
        F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ])
    banded = sim.select(
        "doc", "simhash", F.posexplode(band_vals).alias("band", "bv"))
    if max_bucket is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "bv").orderBy("doc")
        banded = (banded.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                F.col("a.simhash").alias("ha"), F.col("b.simhash").alias("hb"))
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def shingle_novelty(docs: DataFrame) -> DataFrame:
    """-> (doc_id, n_shingles, n_novel, novelty): per-document novelty
    scoring — the share of a doc's distinct k-shingles whose FIRST
    corpus occurrence (smallest doc id) is this doc.  Boilerplate-heavy
    documents (templates, quotes, near-dups of earlier docs) score near
    0; fresh content scores near 1 — the standard cheap signal for
    ordering/filtering crawl snapshots before expensive pairwise dedup.

    Plan: one shingle explode, one min-aggregate keyed on the shingle
    (the inverted index — map-side combinable), one join back on the
    shingle, one per-doc aggregate.  No pair generation anywhere, so
    unlike Jaccard joins there is NO hot-shingle quadratic risk: a
    shingle in m docs contributes m join rows, not m^2 — this is the
    novelty metric's 100 TB advantage over pairwise overlap."""
    sh = word_shingles(docs)
    first = sh.groupBy("shingle").agg(F.min("doc").alias("first_doc"))
    return (sh.join(first, "shingle")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.sum(F.when(F.col("first_doc") == F.col("doc"), 1)
                       .otherwise(0)).cast("long").alias("n_novel"))
            .select(F.col("doc").alias("doc_id"), "n_shingles", "n_novel",
                    F.round(F.col("n_novel").cast("double")
                            / F.col("n_shingles").cast("double"), 6)
                    .alias("novelty")))


# One-row diagnostic of the last dup_clusters run: the
# measured iteration count vs the adaptive cap, so a cluster operator that
# approaches its bound is observable instead of a surprise RuntimeError.
CC_STATS: dict = {}


def dup_clusters(pairs: DataFrame, max_iter: int | None = None) -> DataFrame:
    """Connected components over an undirected near-dup pair graph:
    -> (doc_id, cluster_id) for every doc appearing in >= 1 pair, where
    cluster_id = the smallest doc id reachable through shared buckets.

    The canonicalization step a dedup pipeline needs after candidate
    generation: LSH pairs say "a~b, b~c"; the cluster says "keep min(a),
    drop the rest" transitively.

    Hash-min label propagation WITH pointer doubling: each round (a)
    propagates labels one hop along edges and keeps the min, then (b)
    shortcuts every label to its label's label (path compression).  Step
    (b) is what makes chain-shaped graphs safe: plain one-hop propagation
    needs diameter rounds (a 10k-hop near-dup chain would exhaust any
    iteration cap and silently return wrong labels), while doubling
    converges in O(log diameter) rounds — the same complexity class as
    the large-star/small-star alternating rounds of Kiveris et al.,
    CC-MR.  Measured: a path graph (the worst case — diameter = n-1)
    converges in exactly ceil(log2 n) rounds (n=256 -> 8, 4096 -> 12,
    65536 -> 16).  Each round is two joins + one aggregate, all shuffled
    on the doc id, on a frame of |pairs| rows — never the corpus.  The
    driver-side loop is inherent to any iterative fixpoint; each
    iteration localCheckpoints to truncate lineage, and the convergence
    check (did any label drop?) is an aggregate over the label frame,
    not a collect of it.

    ``max_iter=None`` (default) sizes the cap ADAPTIVELY from the data:
    ceil(log2 n_nodes) + 8 — diameter <= n_nodes, so the doubling bound
    always suffices with margin, and no fixed constant can be outgrown
    by a pathological 100 TB chain (the old fixed 20 refused graphs it
    could have solved).  The node count is
    one aggregate over the already-materialized label frame.  The
    measured iteration count lands in module-level ``CC_STATS``
    (n_nodes, rounds, cap, converged) — the one-row diagnostic a
    production job would emit next to its output.

    Raises RuntimeError if the cap is somehow still hit — wrong cluster
    labels must never be returned silently (the DuckDB oracle computes an
    exact transitive closure and would expose them as a hash mismatch).
    """
    import math
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
             .unionByName(
                 pairs.select(F.col("doc_b").alias("src"),
                              F.col("doc_a").alias("dst")))
             .localCheckpoint())  # materialize once; reused every round
    labels = (edges.groupBy("src").agg(F.min("dst").alias("lbl"))
              .select(F.col("src").alias("doc"),
                      F.least("src", "lbl").alias("lbl"))
              .localCheckpoint())
    # One aggregate fetches BOTH the node count (for the adaptive cap)
    # and — for integral doc ids — the exact label sum that drives the
    # convergence check below (DECIMAL(38,0): n_nodes * max(long) stays
    # well inside 38 digits, so the sum is exact at any corpus size).
    # Non-integral ids keep the join-based check (a string->decimal cast
    # would throw under ANSI).
    from pyspark.sql.types import IntegralType
    numeric_lbl = isinstance(labels.schema["lbl"].dataType, IntegralType)
    lbl_sum = F.sum(F.col("lbl").cast("decimal(38,0)"))
    aggs = [F.count("*")] + ([lbl_sum] if numeric_lbl else [])
    head = labels.agg(*aggs).collect()[0]
    n_nodes = head[0]
    prev_sum = head[1] if numeric_lbl else None
    if max_iter is None:
        max_iter = math.ceil(math.log2(max(n_nodes, 2))) + 8
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        prop = (edges.join(labels, edges["dst"] == labels["doc"])
                .select(edges["src"].alias("doc"), "lbl"))
        # localCheckpoint BEFORE the self-join: truncating the
        # union+aggregate lineage here both bounds plan growth and keeps
        # Catalyst's Union constraint-rewrite away from the renamed
        # self-join below (which it mis-maps at larger inputs:
        # NoSuchElementException in rewriteConstraints)
        hop = (labels.unionByName(prop)
               .groupBy("doc").agg(F.min("lbl").alias("lbl"))
               .localCheckpoint())
        # pointer doubling: lbl <- label(lbl).  Every lbl is a doc id in
        # the graph (labels only ever take doc-id values), so the inner
        # self-join is total; labels are monotone non-increasing, so
        # least() just guards the invariant.
        new = (hop.alias("x")
               .join(hop.select(F.col("doc").alias("lbl"),
                                F.col("lbl").alias("lbl2")).alias("y"),
                     "lbl")
               .select("doc", F.least("lbl", "lbl2").alias("lbl"))
               .localCheckpoint())
        # Convergence check.  Labels are monotone non-increasing per doc
        # and the doc set is round-invariant, so for integral ids the
        # exact decimal label sum is stationary IFF no label changed —
        # one scalar aggregate over the checkpointed frame instead of a
        # third join per round.
        if numeric_lbl:
            new_sum = new.agg(lbl_sum).collect()[0][0]
            changed = new_sum != prev_sum
            prev_sum = new_sum
        else:
            changed = (new.alias("n")
                       .join(labels.alias("o"), "doc")
                       .filter(F.col("n.lbl") < F.col("o.lbl"))
                       .count()) > 0
        labels = new
        if not changed:
            converged = True
            break
    CC_STATS.clear()
    CC_STATS.update(n_nodes=n_nodes, rounds=rounds, cap=max_iter,
                    converged=converged)
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds "
            f"(graph diameter > 2^{max_iter}?); refusing to return "
            "possibly-wrong cluster labels")
    return labels.select(F.col("doc").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def deletion_variants(word: Column) -> Column:
    """``word`` plus every single-character-deletion of it, distinct —
    the SymSpell candidate key set (bounded: len(word)+1 variants)."""
    return F.array_distinct(F.concat(
        F.array(word),
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.concat(
                word.substr(F.lit(1), i - 1),
                word.substr(i + 1, F.length(word))))))


def symspell_matches(queries: DataFrame, dictionary: DataFrame,
                     q_col: str, d_col: str,
                     max_bucket: int = 64) -> DataFrame:
    """-> (q, d, dist) for query/dictionary string pairs with Levenshtein
    distance <= 1 — fuzzy vocabulary matching via deletion-neighborhood
    join (SymSpell), never a quadratic cross join.

    Two strings within edit distance 1 share a member of each other's
    single-deletion neighborhoods, so exploding both sides ×(len+1) and
    equi-joining on the variant gives a complete candidate set; the
    exact ``levenshtein`` filter then runs on candidates only.  The join
    is keyed on variant strings — at a 100 TB vocabulary this shuffles
    O(total variants), with hot variants (e.g. the empty string from
    1-char words, shared prefixes of ID-like tokens) capped on the
    dictionary side at ``max_bucket``, same pattern as the LSH/Jaccard
    caps.  Quadratic only in max_bucket, never in vocabulary size.
    """
    from pyspark.sql import Window

    # alias first, explode in a SECOND select: aliasing and referencing
    # the same name in one projection trips Spark's lateral-column-alias
    # analysis when the input column is already named "q"/"d"
    lv = (queries.select(F.col(q_col).alias("q"))
          .select("q", F.explode(deletion_variants(F.col("q"))).alias("v")))
    rv = (dictionary.select(F.col(d_col).alias("d"))
          .select("d", F.explode(deletion_variants(F.col("d"))).alias("v")))
    w = Window.partitionBy("v").orderBy("d")
    rv = (rv.withColumn("_rn", F.row_number().over(w))
          .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    cand = lv.join(rv, "v").select("q", "d").distinct()
    return (cand.withColumn("dist", F.levenshtein("q", "d").cast("long"))
            .filter(F.col("dist") <= 1))


def containment_pairs(docs: DataFrame, threshold: float,
                      k: int = 3) -> DataFrame:
    """DIRECTED set containment C(A→B) = |A∩B| / |A| >= threshold — the
    quote/subset-detection asymmetric cousin of Jaccard (a short doc fully
    quoted inside a long one scores ~1.0 here but low on Jaccard, which
    its union denominator dilutes).

    Exact, via one-sided prefix filtering: C >= t implies |A∩B| >=
    ceil(t·|A|) (integer-exact alpha, same Fraction arithmetic as
    :func:`jaccard_pairs_prefix`), and the smallest common element under
    the global (df, shingle) order must then sit inside A's
    ``|A| - alpha + 1``-prefix — so candidates come from joining A's
    PREFIX against B's full posting list, never full-x-full.  Only the
    probing side shrinks (the lemma bounds nothing about B), but the
    prefix is built from A's globally RAREST shingles, so the B-side
    posting lists it probes are short by construction.  Verification is
    the same sorted-array ``array_intersect`` re-join as the Jaccard
    prefix join.  Containment is a ratio of exact integers.

    -> (doc_a, doc_b, containment): ordered pairs, doc_a ≠ doc_b,
    doc_a's shingles covered by doc_b.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator

    shingles = (word_shingles(docs, k, spread=False)
                .repartition(F.col("shingle")))
    with_df = shingles.withColumn(
        "_df", F.count("*").over(Window.partitionBy("shingle")))
    w_doc = Window.partitionBy("doc").orderBy(F.col("_df").asc(),
                                              F.col("shingle").asc())
    alpha = F.expr(f"({num} * _n + {den} - 1) div {den}")  # == ceil(t*_n)
    ranked = (with_df
              .withColumn("_rn", F.row_number().over(w_doc))
              .withColumn("_n", F.count("*").over(Window.partitionBy("doc"))))
    prefix = (ranked
              .filter(F.col("_rn") <= F.col("_n") - alpha + 1)
              .select(F.col("doc").alias("doc_a"), "shingle"))
    cand = (prefix
            .join(shingles.select(F.col("doc").alias("doc_b"), "shingle"),
                  "shingle")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct())
    sets = shingles.groupBy("doc").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh"),
        F.count("*").alias("n"))
    return (
        cand
        .join(sets.select(F.col("doc").alias("doc_a"),
                          F.col("sh").alias("sh_a"),
                          F.col("n").alias("n_a")), "doc_a")
        .join(sets.select(F.col("doc").alias("doc_b"),
                          F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("containment",
                    F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
                    / F.col("n_a"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


# Span ladder for shared-substring profiling: Fibonacci-ish spacing
# covers short boilerplate through long verbatim quotes.
SPAN_NS = (3, 5, 8, 13)


def ladder_tagged_grams(ns: tuple[int, ...]):
    """array<struct<span:int,gram:string>>: per rung n in ``ns``, the
    doc's distinct n-grams in first-occurrence order, rungs
    concatenated in ``ns`` order — pinned element-identical to its
    expression twin (tests/dedup_twins.py) by tests/test_r15_batch8.py.
    Docs shorter than a rung contribute no grams for that rung;
    shorter than min(ns), an empty array (the old pre-explode size
    filter, folded in).  Token semantics are EXACT (:func:`py_tokens`
    == the twin's ``tokens``, empty tokens kept — not just
    ASCII-equivalent); NULL text takes the twin's ``size(NULL)``-guard
    branch to []."""
    lo = min(ns)

    @pandas_udf("array<struct<span:int,gram:string>>")
    def _ladder(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [] if t is None else py_tokens(t)
            if len(toks) < lo:
                out.append([])
                continue
            row = []
            for n in ns:
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                seen = set()
                for i in range(m):
                    g = " ".join(toks[i:i + n])
                    if g not in seen:
                        seen.add(g)
                        row.append((n, g))
            out.append(row)
        return pd.Series(out)

    return _ladder("text")


def max_shared_span(docs: DataFrame, ns: tuple[int, ...] = SPAN_NS,
                    df_max: int = 128) -> DataFrame:
    """-> (doc_a, doc_b, max_span): per candidate pair, the LARGEST
    n in ``ns`` such that the two documents share a verbatim word
    n-gram — the substring-granularity duplication signal (Lee et al.
    2022's exact-substring dedup, profiled at a fixed span ladder
    instead of via suffix arrays, which don't distribute).

    One corpus scan: every span's gram stream is generated IN-ROW from
    the same token array (per-n slices, deduped by ``array_distinct``,
    tagged with the span, flattened) and exploded once.  The inverted
    index is keyed on (span, gram) with the same document-frequency cap
    as jaccard_pairs — a boilerplate gram shared by m docs degenerates
    to m^2 pairs, so grams with df > df_max are dropped (pairs can be
    missed, never invented).  The self-join runs once across all spans
    on the (span, gram) key, and the final aggregate folds the ladder
    to its max.
    """
    from pyspark.sql import Window

    from ..tables import spread_small_scan

    # Spread before the gram kernel (the CPU-heavy stage); grams/spans
    # are exact strings/ints, so partitioning cannot perturb results.
    # The ladder explode itself is the Arrow kernel (guide §4.2): the
    # interpreted transform/array_distinct/concat_ws chain measured
    # ~10.5 s of task CPU at sf0.1 (the dominant stage of this query
    # AND of substring_discard_manifest's discovery phase).
    exploded = (spread_small_scan(docs)
                .select(F.col("doc_id").alias("doc"),
                        F.explode(ladder_tagged_grams(ns))
                        .alias("sg"))
                .select("doc", F.col("sg.span").alias("span"),
                        F.col("sg.gram").alias("gram"))
                .repartition(F.col("span"), F.col("gram")))
    capped = (exploded
              .withColumn("_df", F.count("*").over(
                  Window.partitionBy("span", "gram")))
              .filter(F.col("_df") <= df_max)
              .drop("_df"))
    a = capped.alias("a")
    b = capped.alias("b")
    return (a.join(b, (F.col("a.span") == F.col("b.span"))
                   & (F.col("a.gram") == F.col("b.gram"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"),
                     F.col("b.doc").alias("doc_b"))
            .agg(F.max(F.col("a.span")).cast("long").alias("max_span")))


def max_shared_span_exact(docs: DataFrame, ns: tuple[int, ...] = SPAN_NS,
                          df_max: int = 128) -> DataFrame:
    """-> (doc_a, doc_b, max_span): per candidate pair, the EXACT
    length of the longest verbatim shared word n-gram — the ladder
    profile of :func:`max_shared_span` refined to the true maximum.

    Two phases, mirroring how exact-substring dedup scales:

    1. DISCOVERY stays the df-capped (span, gram) inverted index at the
       fixed ladder — that bounds the candidate-pair set, which is the
       quadratic danger at 100 TB.
    2. REFINEMENT runs only on those (bounded) pairs: each pair row
       carries both token arrays, and an Arrow-batched kernel
       binary-searches the true span in [ladder hit, min(len_a,
       len_b)] — shared-n-gram existence is monotone decreasing in n,
       so log(len) rolling-hash probes per pair suffice — each holds
       O(len) integers of transient state, never an O(len_a·len_b) DP
       nor the O(L·n) characters of materialized gram strings.

    The ladder hit is a sound lower bound (its gram was genuinely
    shared; the df cap only *removes* discovery grams).  Cost: the
    candidate plan + two doc-keyed joins to re-attach token arrays +
    one Python stage over |pairs| rows — at scale the pair set is df-
    cap-bounded while the corpus-side joins stay key-partitioned.
    """
    cand = max_shared_span(docs, ns, df_max)
    from ..tables import spread_small_scan
    toked = (spread_small_scan(docs)
             .select(F.col("doc_id").alias("doc"),
                     tokens(F.col("text")).alias("toks")))

    @pandas_udf("long")
    def exact_span(ta: pd.Series, tb: pd.Series,
                   lo0: pd.Series) -> pd.Series:
        # Rolling polynomial hashes over per-pair token ids: each probe
        # materializes O(len_a + len_b) integers, never the O(L·n)
        # characters of joined gram strings (for near-duplicate long
        # docs at n ~ L/2 that was an O(L^2) transient per pair row — a
        # per-task OOM risk at scale).  Hash hits are verified by token
        # slice comparison, so the result stays exact.
        B, M = 1_000_003, (1 << 61) - 1

        def win_hashes(seq: list[int], n: int, pw: int):
            h = 0
            for i, x in enumerate(seq):
                h = (h * B + x + 1) % M
                if i >= n:
                    h = (h - (seq[i - n] + 1) * pw) % M
                if i >= n - 1:
                    yield i - n + 1, h

        out = []
        for a, b, lo in zip(ta, tb, lo0):
            a, b = list(a), list(b)
            if len(b) < len(a):       # index the shorter side's grams
                a, b = b, a
            ids: dict[str, int] = {}
            ai = [ids.setdefault(t, len(ids)) for t in a]
            bi = [ids.setdefault(t, len(ids)) for t in b]

            def shared(n: int) -> bool:
                if n > min(len(ai), len(bi)):
                    return False
                pw = pow(B, n, M)
                pos: dict[int, list[int]] = {}
                for i, h in win_hashes(ai, n, pw):
                    pos.setdefault(h, []).append(i)
                for j, h in win_hashes(bi, n, pw):
                    for i in pos.get(h, ()):
                        if ai[i:i + n] == bi[j:j + n]:
                            return True
                return False

            lo, hi = int(lo), min(len(ai), len(bi))
            while lo < hi:            # invariant: shared(lo) is True
                mid = (lo + hi + 1) // 2
                if shared(mid):
                    lo = mid
                else:
                    hi = mid - 1
            out.append(lo)
        return pd.Series(out, dtype="int64")

    # Spread the bounded pair frame across the cluster BEFORE the
    # Python refinement: the pair agg's exchange output is a few hundred
    # KB, so AQE's byte model coalesces it to 1-2 partitions — but the
    # per-pair cost here is CPU-bound Python (log(len) rolling-hash
    # probes), invisible to byte-based coalescing (measured: a 1.05 s
    # single-task ArrowEvalPython stage dominating the query).  An
    # explicit partition count pins one wave of tasks at any scale; the
    # frame is df-cap bounded, never corpus-sized.  Keyed on doc_a ONLY:
    # (doc_a, doc_b) would match the pair agg's own exchange keys and be
    # optimized away as redundant (putting the AQE-coalescible agg
    # exchange back in charge), while hashpartitioning(doc_a, N) both
    # survives and co-partitions the at-scale token-array join.
    n_spread = docs.sparkSession.sparkContext.defaultParallelism
    return (
        cand
        .repartition(n_spread, "doc_a")
        .join(toked.select(F.col("doc").alias("doc_a"),
                           F.col("toks").alias("ta")), "doc_a")
        .join(toked.select(F.col("doc").alias("doc_b"),
                           F.col("toks").alias("tb")), "doc_b")
        .select("doc_a", "doc_b",
                exact_span("ta", "tb", "max_span").alias("max_span"))
    )


def incremental_dedup(docs: DataFrame, mod: int = 3, num_perm: int = 8,
                      bands: int = 4, rows_per_band: int = 2,
                      max_bucket: int | None = None) -> DataFrame:
    """Incremental-ingest dedup: screen a NEW batch (``doc_id % mod ==
    0`` stands in for "this ingest") against the EXISTING corpus without
    ever re-deduplicating the old side — the steady-state shape of a
    production pipeline, where each day's crawl checks against an index
    of fingerprints rather than joining the full history against itself.

    -> (doc_id, exact_dup, n_near_partners, is_dup) for every new doc:
    ``exact_dup`` = content md5 seen in the old corpus;
    ``n_near_partners`` = distinct old docs sharing >= 1 LSH band.

    Scale shape: the exact probe joins on the 128-bit content hash (at
    deployment the old side is the stored fingerprint index, not a
    rescan); the near probe shuffles band rows on (band, band_hash) with
    the old side of each bucket capped at ``max_bucket`` (hot
    boilerplate buckets stay O(new·cap)).  Old-side text is read once to
    build fingerprints; the quadratic old×old join never happens."""
    is_new = F.col("doc_id") % mod == 0
    new_h = (docs.filter(is_new)
             .select(F.col("doc_id"), F.md5(F.col("text")).alias("h")))
    old_h = (docs.filter(~is_new)
             .select(F.md5(F.col("text")).alias("h")).distinct()
             .withColumn("_seen", F.lit(1)))
    exact = (new_h.join(old_h, "h", "left")
             .select(F.col("doc_id"),
                     F.col("_seen").isNotNull().alias("exact_dup")))

    sig = minhash_signatures(docs, num_perm)
    banded = banded_signatures(sig, bands, rows_per_band)
    nb = banded.filter(F.col("doc") % mod == 0)
    ob = banded.filter(F.col("doc") % mod != 0)
    if max_bucket is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "band_hash").orderBy("doc")
        ob = (ob.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    near = (nb.alias("n")
            .join(ob.alias("o"),
                  (F.col("n.band") == F.col("o.band"))
                  & (F.col("n.band_hash") == F.col("o.band_hash")))
            .groupBy(F.col("n.doc").alias("doc_id"))
            .agg(F.countDistinct(F.col("o.doc")).cast("long")
                 .alias("n_near_partners")))
    return (exact.join(near, "doc_id", "left")
            .select(F.col("doc_id"),
                    "exact_dup",
                    F.coalesce("n_near_partners", F.lit(0)).cast("long")
                    .alias("n_near_partners"),
                    (F.col("exact_dup")
                     | (F.coalesce("n_near_partners", F.lit(0)) > 0))
                    .alias("is_dup")))


def substring_discard_manifest(docs: DataFrame, min_len: int = 8,
                               ns: tuple[int, ...] = (8, 13),
                               df_max: int = 128) -> DataFrame:
    """Exact-substring dedup as a DISCARD MANIFEST (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §3 —
    the ExactSubstr operator): instead of reporting that two documents
    share a long verbatim span (:func:`max_shared_span_exact`), emit
    the TOKEN RANGES TO DROP so one occurrence of every duplicated
    substring survives.

    Keep-first convention: a document discards every maximal shared
    run of >= ``min_len`` tokens it has in common with ANY
    lower-doc_id document; overlapping/touching ranges from different
    partners merge.  The first occurrence (lowest doc_id) keeps its
    text — deterministic, order-free, and exactly the property the
    paper's suffix-array pass enforces, re-expressed shardably.

    Three phases:

    1. DISCOVERY — the df-capped (span, gram) inverted index of
       :func:`max_shared_span`, restricted to rungs >= ``min_len``
       (a run of min_len tokens must contain a min_len-gram, so the
       8/13 rungs are a sound discovery filter for min_len=8; the df
       cap can only MISS pairs, never invent ranges).
    2. REFINEMENT — an Arrow-batched kernel per candidate pair walks
       the matching-token positions along anti-diagonals (the classic
       LCS-substring run recurrence, restricted to actual matches:
       O(matching position pairs), bounded per pair by doc length,
       with the pair set df-cap-bounded) and emits every maximal run
       >= min_len as a [start, end) range in the HIGHER doc.
    3. MERGE — per doc, the classic interval sweep (one window over
       (doc, start, end): a range opens a new group iff its start
       exceeds the running max end of all prior ranges).

    -> (doc_id, range_start, range_end, n_tokens), one row per merged
    drop range; token indices are 0-based over split-on-whitespace
    tokens (the corpus tokenization every other dedup face uses).

    The DuckDB oracle computes the same ranges independently via the
    diagonal-run SQL fold (no kernel), so the two algorithms must
    agree range-for-range."""
    from pyspark.sql import Window

    cand = max_shared_span(docs, ns, df_max)
    from ..tables import spread_small_scan
    toked = (spread_small_scan(docs)
             .select(F.col("doc_id").alias("doc"),
                     tokens(F.col("text")).alias("toks")))

    @pandas_udf("array<struct<s:long,e:long>>")
    def drop_ranges(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(ta, tb):
            a, b = list(a), list(b)
            pos_a: dict[str, list[int]] = {}
            for i, t in enumerate(a):
                pos_a.setdefault(t, []).append(i)
            # run length ending at (i, j), keyed by diagonal i - j;
            # iterate j ascending so diag state refers to j - 1.
            runs: dict[int, tuple[int, int]] = {}   # diag -> (j_end, len)
            ranges = []
            for j, t in enumerate(b):
                nxt: dict[int, tuple[int, int]] = {}
                for i in pos_a.get(t, ()):
                    d = i - j
                    prev = runs.get(d)
                    ln = prev[1] + 1 if prev and prev[0] == j - 1 else 1
                    nxt[d] = (j, ln)
                # a diagonal whose run did NOT extend to j has ended
                for d, (j_end, ln) in runs.items():
                    if d not in nxt and ln >= min_len:
                        ranges.append((j_end - ln + 1, j_end + 1))
                runs = nxt
            for d, (j_end, ln) in runs.items():
                if ln >= min_len:
                    ranges.append((j_end - ln + 1, j_end + 1))
            out.append(ranges)
        return pd.Series(out)

    # Same CPU-bound-refinement spread as max_shared_span_exact: the
    # pair frame's exchange is a few hundred KB, AQE coalesces it to
    # one task, and the diagonal-run kernel is Python CPU invisible to
    # the byte model.  doc_a-keyed so the repartition survives (the
    # (doc_a, doc_b) keys match the upstream agg and would be removed
    # as redundant) and co-partitions the at-scale token-array join.
    n_spread = docs.sparkSession.sparkContext.defaultParallelism
    pair_ranges = (
        cand.select("doc_a", "doc_b")
        .repartition(n_spread, "doc_a")
        .join(toked.select(F.col("doc").alias("doc_a"),
                           F.col("toks").alias("ta")), "doc_a")
        .join(toked.select(F.col("doc").alias("doc_b"),
                           F.col("toks").alias("tb")), "doc_b")
        .select(F.col("doc_b").alias("doc_id"),
                F.explode(drop_ranges("ta", "tb")).alias("r"))
        .select("doc_id", F.col("r.s").alias("s"), F.col("r.e").alias("e"))
        .distinct())

    order = Window.partitionBy("doc_id").orderBy("s", "e")
    pme = F.max("e").over(order.rowsBetween(Window.unboundedPreceding, -1))
    flagged = pair_ranges.withColumn(
        "brk", F.when(pme.isNull() | (F.col("s") > pme), 1).otherwise(0))
    grouped = flagged.withColumn(
        "grp", F.sum("brk").over(
            order.rowsBetween(Window.unboundedPreceding, 0)))
    return (grouped.groupBy("doc_id", "grp")
            .agg(F.min("s").cast("long").alias("range_start"),
                 F.max("e").cast("long").alias("range_end"))
            .select("doc_id", "range_start", "range_end",
                    (F.col("range_end") - F.col("range_start"))
                    .cast("long").alias("n_tokens")))
