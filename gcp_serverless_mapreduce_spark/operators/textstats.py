"""Text-analysis operators over ``documents`` — language-ID, quality
scoring, token counting, document fingerprinting.

Generalizes the reference's per-word string pipeline (tokenize/normalize/
filter, mapphase/split.go:68-133 + map.go:82-151) from one hard-coded
anagram query to the scoring passes an LLM-corpus pipeline runs before
training: every operator is a pure column expression (codegen'd, single
scan, no Python), so at 100 TB each is one map-side pass + one hash-agg.

Cross-engine determinism: counts are exact integers; every ratio is an
IEEE-double division of two exact integers; the fingerprint fold is
integer arithmetic mod 1e9+7 (bigint-safe: max acc*31+code < 2^63).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import nonempty_tokens

# Marker-word profiles for the n-gram/stopword language heuristic.  Tiny on
# purpose: the operator's shape (per-lang hit counts -> argmax) is what
# scales; real deployments swap in full frequency profiles.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"),
    "en": ("the", "a", "and", "of", "to", "is", "in", "it", "that", "you"),
    "es": ("el", "los", "y", "es", "no", "un", "por", "que", "para", "una"),
    "fr": ("le", "la", "les", "et", "est", "je", "ne", "pas", "un", "pour"),
}

# BPE-ish pre-tokenizer: letter runs | digit runs | single other non-space.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

FP_MOD = 1_000_000_007
FP_SEED = 7
FP_MULT = 31


def lang_hits(toks: Column, lang: str) -> Column:
    """How many tokens are marker words of ``lang`` (multiset count)."""
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def language_scores(docs: DataFrame) -> DataFrame:
    """-> (doc_id, cand_lang, n_hits) — one row per (doc, candidate
    language).  Single scan: the per-lang counts are computed in one
    projection and exploded, not one pass per language."""
    toks = nonempty_tokens(F.col("text"))
    cands = F.array(*[
        F.struct(F.lit(lang).alias("cand_lang"),
                 lang_hits(toks, lang).cast("long").alias("n_hits"))
        for lang in sorted(LANG_MARKERS)
    ])
    return docs.select(
        F.col("doc_id"), F.explode(cands).alias("c")
    ).select("doc_id", "c.cand_lang", "c.n_hits")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / punct)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), F.lit(0)))


def poly_fingerprint(s: Column) -> Column:
    """Rolling polynomial hash of a string's codepoints:
    fold(h -> (h*31 + code) % 1e9+7, seed 7).  Exact integer arithmetic —
    identical in any engine; at 100 TB this is the cheap per-doc identity
    a shuffle can key on (vs md5: no binary/hex handling needed).

    fingerprint('') is pinned to the seed: split('','') yields [''] on
    both engines but the empty char's code DIFFERS (Spark ascii('')=0,
    DuckDB unicode('')=-1) — found by the fuzz oracle, never by fixtures.
    """
    codes = F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long"))
    fold = F.aggregate(
        codes, F.lit(FP_SEED).cast("long"),
        lambda acc, c: (acc * FP_MULT + c) % FP_MOD)
    return F.when(F.length(s) > 0, fold).otherwise(F.lit(FP_SEED).cast("long"))


def build_vocab(docs: DataFrame, size: int) -> DataFrame:
    """Tokenizer-style vocabulary construction: the ``size`` most frequent
    corpus tokens with dense ids assigned by (freq desc, token asc) — the
    deterministic tie-break every release needs so two builds of the same
    corpus emit the same ids.

    -> (vocab_id, word, freq).  Scale: explode → map-side-combined count
    (one shuffle on the token), then TakeOrdered top-``size`` + a rank
    window over only the survivors — never a global sort of the
    vocabulary candidate space.
    """
    from pyspark.sql import Window

    counts = (docs.select(F.explode(nonempty_tokens(F.col("text")))
                          .alias("word"))
              .groupBy("word").agg(F.count("*").alias("freq")))
    top = counts.orderBy(F.col("freq").desc(), F.col("word")).limit(size)
    w = Window.orderBy(F.col("freq").desc(), F.col("word"))
    return (top.withColumn("vocab_id", F.row_number().over(w).cast("long"))
            .select("vocab_id", "word", "freq"))


def cooccurrence_pmi(docs: DataFrame, max_gap: int = 2,
                     min_count: int = 5) -> DataFrame:
    """Directed word co-occurrence with pointwise mutual information over
    a forward window of ``max_gap`` tokens (the word2vec/GloVe statistic).

    pmi(a,b) = ln( (c_ab / T_pairs) / ((c_a / T_words) * (c_b / T_words)) )

    computed from exact integer counts and one ln() per surviving pair,
    rounded to 6 decimals (cross-engine ln ulp noise is ~1e-16).  Pair
    generation is IN-ROW — ``arrays_zip`` of the token array against its
    gap-shifted self, one explode, NO self-join — so the only shuffles
    are the two counting aggregates.  ``min_count`` keeps the long tail
    out of the output (and out of the broadcast-scalar totals join).

    -> (word_a, word_b, n_pair, pmi) for pairs with c_ab >= min_count.
    """
    toks = docs.select(nonempty_tokens(F.col("text")).alias("t"))
    pair_arrays = [
        F.arrays_zip(F.slice("t", 1, F.greatest(F.size("t") - g, F.lit(0))),
                     F.slice("t", 1 + g,
                             F.greatest(F.size("t") - g, F.lit(0))))
        for g in range(1, max_gap + 1)
    ]
    pairs = (toks.select(F.explode(F.concat(*pair_arrays)).alias("p"))
             .select(F.col("p.0").alias("word_a"),
                     F.col("p.1").alias("word_b")))
    pc = pairs.groupBy("word_a", "word_b").agg(F.count("*").alias("n_pair"))
    wc = (docs.select(F.explode(nonempty_tokens(F.col("text"))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("n_word")))
    totals = (pc.agg(F.sum("n_pair").alias("t_pairs"))
              .crossJoin(wc.agg(F.sum("n_word").alias("t_words"))))
    pmi = F.round(
        F.log((F.col("n_pair").cast("double") / F.col("t_pairs"))
              / ((F.col("na").cast("double") / F.col("t_words"))
                 * (F.col("nb").cast("double") / F.col("t_words")))), 6)
    return (pc.filter(F.col("n_pair") >= min_count)
            .join(wc.select(F.col("word").alias("word_a"),
                            F.col("n_word").alias("na")), "word_a")
            .join(wc.select(F.col("word").alias("word_b"),
                            F.col("n_word").alias("nb")), "word_b")
            .crossJoin(F.broadcast(totals))
            .select("word_a", "word_b", "n_pair", pmi.alias("pmi")))


def token_entropy(docs: DataFrame) -> DataFrame:
    """-> (doc_id, n_tokens, n_distinct, entropy): per-document unigram
    Shannon entropy (nats), rounded to 6 — the repetitiveness signal a
    quality filter reads (boilerplate/spam ≈ low entropy at high length).

    H(doc) = -Σ_tok (c/n)·ln(c/n) from exact integer counts; ln last-ulp
    noise is absorbed by the rounding.  One explode → per-(doc, tok)
    count → per-doc aggregate: two shuffles, both on the doc id, so AQE
    coalesces them into one effective exchange chain.
    """
    toks = docs.select(F.col("doc_id").alias("doc"),
                       F.explode(nonempty_tokens(F.col("text"))).alias("tok"))
    tc = toks.groupBy("doc", "tok").agg(F.count("*").alias("c"))
    p = F.col("c").cast("double") / F.col("n")
    return (tc.withColumn("n", F.sum("c").over(Window.partitionBy("doc")))
            .groupBy("doc")
            .agg(F.max("n").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("n_distinct"),
                 F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
            .withColumnRenamed("doc", "doc_id"))


def source_token_kl(docs: DataFrame) -> DataFrame:
    """-> (source, n_tokens, kl_from_corpus): KL(P_source ‖ P_corpus) of
    each source's unigram distribution from the whole-corpus distribution
    (nats, rounded 6) — the distribution-shift diagnostic a data-mixing
    pipeline runs per domain before choosing mixture weights.

    KL = Σ_tok p_s(tok) · ln(p_s(tok) / p_c(tok)); every source token
    also appears in the corpus distribution, so the ratio is always
    defined.  Counts are exact integers; the per-source and corpus
    count frames join on the token (one shuffle each), the totals
    broadcast as scalars.
    """
    toks = docs.select(F.col("source"),
                       F.explode(nonempty_tokens(F.col("text"))).alias("tok"))
    sc = toks.groupBy("source", "tok").agg(F.count("*").alias("cs"))
    cc = toks.groupBy("tok").agg(F.count("*").alias("cc"))
    stot = sc.groupBy("source").agg(F.sum("cs").alias("ns"))
    ctot = cc.agg(F.sum("cc").alias("nc"))
    ps = F.col("cs").cast("double") / F.col("ns")
    pc = F.col("cc").cast("double") / F.col("nc")
    return (sc.join(cc, "tok")
            .join(F.broadcast(stot), "source")
            .crossJoin(F.broadcast(ctot))
            .groupBy("source")
            .agg(F.max("ns").cast("long").alias("n_tokens"),
                 F.round(F.sum(ps * F.log(ps / pc)), 6)
                 .alias("kl_from_corpus")))


# ---------------------------------------------------------------------------
# BPE tokenization (rank-sequential replace-all formulation).

# A BPE merge table in learned order: every merge's inputs exist before
# it (parents precede children), as a trained table guarantees.  Chains
# exercise multi-level merges (t+h -> th, th+e -> the).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("e", "r"),
    ("a", "r"), ("s", "t"), ("o", "r"), ("l", "e"), ("a", "s"),
    ("h", "a"), ("ha", "s"), ("r", "o"), ("ro", "w"), ("k", "e"),
    ("ke", "y"),
)


# Literal '<' / '>' / '\' in document text would collide with the <sym>
# delimiters (e.g. '<' wraps to '<<>', making '[^>]+' symbol parsing and
# '<' piece-counting wrong for HTML/code corpora).  They are escaped to
# the two-char units '\l' / '\g' / '\\' BEFORE wrapping, and the wrapper
# regex treats an escape pair as ONE unit — so every original character
# is exactly one symbol and symbols never contain raw delimiters.
_BPE_UNIT_RE = r"(\\[\\lg]|\S)"


def bpe_escape(text: Column) -> Column:
    """Escape delimiter-colliding chars: \\ -> \\\\, < -> \\l, > -> \\g."""
    s = F.replace(text, F.lit("\\"), F.lit("\\\\"))
    s = F.replace(s, F.lit("<"), F.lit("\\l"))
    return F.replace(s, F.lit(">"), F.lit("\\g"))


def bpe_pieces(text: Column, merges=BPE_MERGES) -> Column:
    """Apply the BPE merge table to a document and return its piece
    stream as a delimited string ``<p1><p2>...`` (spaces separate words
    and are never wrapped, so merges cannot cross word boundaries).
    ``merges=()`` gives the wrapped unit stream that
    :func:`learn_bpe_merges` starts from.

    Formulation: escape delimiter chars (see ``bpe_escape``), wrap every
    unit (escape pair or single non-space char) as ``<u>``, then apply
    each merge IN RANK ORDER as a literal replace-all of ``<a><b>`` with
    ``<ab>`` — deterministic left-to-right non-overlapping replacement,
    identical semantics in the JVM, DuckDB, and Python.  (This is the
    rank-sequential formulation: each rank is applied exactly once, in
    table order — well-defined for any table whose parents precede
    children, and entirely expression-based: the whole tokenizer runs
    inside whole-stage codegen with NO Python on the hot path, unlike a
    priority-queue BPE which would need a UDF.)
    """
    s = F.regexp_replace(bpe_escape(F.lower(F.trim(text))),
                         _BPE_UNIT_RE, "<$1>")
    for a, b in merges:
        s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return s


def bpe_pieces_sql(col: str, merges=BPE_MERGES) -> str:
    """DuckDB twin of :func:`bpe_pieces` over the column ``col``."""
    s = (f"regexp_replace(replace(replace(replace(lower(trim({col})), "
         f"'\\', '\\\\'), '<', '\\l'), '>', '\\g'), "
         f"'(\\\\[\\\\lg]|\\S)', '<\\1>', 'g')")
    for a, b in merges:
        s = f"replace({s}, '<{a}><{b}>', '<{a}{b}>')"
    return s


def bpe_piece_stats(docs: DataFrame) -> DataFrame:
    """-> (doc_id, n_chars_sym, n_pieces, pieces_md5): per-document BPE
    piece count and an exact fingerprint of the piece stream.  Map-only
    projection — the merge loop is a fixed chain of string replaces, so
    at 100 TB this is one codegen'd scan, no shuffle, no UDF."""
    s = bpe_pieces(F.col("text"))
    n_open = F.length(s) - F.length(F.replace(s, F.lit("<"), F.lit("")))
    raw = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s", "")
    return docs.select(
        F.col("doc_id"),
        F.length(raw).cast("long").alias("n_chars_sym"),
        n_open.cast("long").alias("n_pieces"),
        F.md5(s).alias("pieces_md5"))


# Round-9: 4 rounds x batch 4 -> 2 rounds x batch 8 — same max learned
# vocab (16), HALF the corpus scans.  The non-interference keep rule is
# per-pair, so a wider batch costs only a longer candidate NOT-EXISTS
# check (<= 8 rows) and a deeper in-round replace chain, both trivial
# next to a corpus scan; it was the suite's slowest query (5.1 s sf0.1).
BPE_LEARN_ROUNDS = 2
BPE_BATCH = 8      # top-M candidate pairs considered per round
BPE_MIN_PAIR = 2


def learn_bpe_merges(docs: DataFrame, rounds: int = BPE_LEARN_ROUNDS):
    """LEARN a BPE merge table from the corpus (closing the tokenizer
    loop that :func:`bpe_pieces` applies) with BATCHED rounds — the
    standard scalable-BPE trick that decouples learned-vocab size from
    the number of corpus scans: each round counts adjacent in-word
    symbol pairs corpus-wide ONCE, takes the top ``BPE_BATCH`` candidates
    (count desc, sym_a, sym_b — deterministic), and applies every
    candidate that does not INTERFERE with any higher-ranked candidate.
    Interference is (a) sharing a symbol, (b) either of the candidate's
    symbols equalling the CONCATENATION ``a+b`` a higher-ranked merge
    would create (the merge would manufacture occurrences the count
    never saw), or (c) the candidate's own concatenation equalling one
    of a higher-ranked candidate's symbols (this merge would manufacture
    occurrences for THAT one).  Merges that pass all three clauses
    cannot create or destroy each other's occurrences — their
    ``<a><b>`` patterns occupy disjoint symbol positions and neither
    produces the other's operands — so the measured counts stay exact
    for every applied merge and application order inside a batch is
    immaterial.  (Clauses b/c close the symbol-concatenation-collision
    edge where e.g. ``(ab, c)`` survived alongside a higher-ranked
    ``(a, b)`` under the name-sharing rule alone.)

    -> (rank, sym_a, sym_b, pair_count) for each APPLIED merge, ranks
    numbered in application order across rounds (up to
    ``rounds × BPE_BATCH`` merges from ``rounds`` scans).

    Scale shape: each round is one explode + one hash-agg over the
    corpus plus a <= ``BPE_BATCH``-row driver collect (the candidate list
    steers the next round's literal replaces — scalar steering like
    KMeans centroid updates, never a data collect).  Only the INITIAL
    symbol frame is localCheckpoint-ed; each round replays the
    accumulated literal-replace chain on top of it (replace chains are
    codegen'd and cheaper than materializing per-round frames — commit
    f8bef46), bounded by ``rounds × BPE_BATCH`` replaces at fixed depth.
    """
    # Spread the scan first (guarded, tables.spread_small_scan): the
    # checkpointed symbol frame inherits the scan's partitioning, so an
    # unspread single-row-group fixture scan would serialize EVERY
    # round's explode+count on one core.  Pair counts are exact integers
    # and the candidate order is a deterministic total order, so the
    # spread cannot perturb the learned merges.
    from ..tables import spread_small_scan

    cur = spread_small_scan(docs.select(F.col("text"))).select(
        bpe_pieces(F.col("text"), merges=()).alias("s"))
    cur = cur.localCheckpoint()
    merges = []
    for _ in range(rounds):
        syms = F.expr("regexp_extract_all(word, '<([^>]+)>', 1)")
        pairs = (cur.select(F.explode(F.split("s", " ")).alias("word"))
                 .select(syms.alias("y"))
                 .where(F.size("y") >= 2)
                 .select(F.explode(F.arrays_zip(
                     F.slice("y", 1, F.size("y") - 1),
                     F.slice("y", 2, F.size("y") - 1))).alias("p"))
                 .select(F.col("p.0").alias("a"), F.col("p.1").alias("b")))
        cand = (pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") >= BPE_MIN_PAIR)
                .orderBy(F.col("c").desc(), "a", "b").limit(BPE_BATCH)
                .collect())
        if not cand:
            break
        # keep a candidate iff it does not interfere with ANY
        # higher-ranked candidate (kept or not): no shared symbol, no
        # symbol equal to a higher candidate's concatenation a+b, and
        # its own concatenation not equal to a higher candidate's
        # symbol — checkable per-pair, so the SQL twin expresses it as
        # NOT EXISTS instead of a sequential greedy scan
        kept = [
            r for i, r in enumerate(cand)
            if not any(y["a"] in (r["a"], r["b"])
                       or y["b"] in (r["a"], r["b"])
                       or (y["a"] + y["b"]) in (r["a"], r["b"])
                       or (r["a"] + r["b"]) in (y["a"], y["b"])
                       for y in cand[:i])]
        for r in kept:
            a, b = r["a"], r["b"]
            merges.append((len(merges) + 1, a, b, int(r["c"])))
            cur = cur.select(
                F.replace(F.col("s"), F.lit(f"<{a}><{b}>"),
                          F.lit(f"<{a}{b}>")).alias("s"))
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "rank long, sym_a string, sym_b string, pair_count long")


def zipf_fit_by_source(docs: DataFrame, topn: int = 100) -> DataFrame:
    """-> (source, n_words, slope, intercept, r2): closed-form OLS fit of
    ln(freq) ~ ln(rank) over each source's ``topn`` most frequent words —
    the Zipf-law diagnostic for corpus naturalness (natural language sits
    near slope -1; boilerplate/spam and synthetic text deviate).

    Ranks come from a per-source window over the word-count aggregate
    (ties break on the word so the fit set is deterministic); the five
    OLS sums reduce per source, so after the word-count shuffle the fit
    itself is a ``topn``-row-per-source aggregate.  At 100 TB the only
    data-sized stage is the (source, word) count — map-side combined —
    and the window runs on the counted frame, never on raw tokens."""
    toks = docs.select(F.col("source"),
                       F.explode(nonempty_tokens(F.col("text"))).alias("tok"))
    wc = toks.groupBy("source", "tok").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("source").orderBy(F.col("freq").desc(),
                                             F.col("tok").asc())
    ranked = (wc.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= topn))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    agg = (ranked
           .select("source", x.alias("x"), y.alias("y"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).cast("double").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy")))
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / F.nullif(dx, F.lit(0.0))
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_words"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.round(cov * cov / F.nullif(dx * dy, F.lit(0.0)), 6).alias("r2"))


def bigram_structs(toks: Column) -> Column:
    """array<struct<w1,w2>> of consecutive token pairs, in-row; safe for
    0/1-token docs (zip_with against the 1-shifted array + null-tail
    filter — Spark's sequence(1, 0) would count DOWN instead of empty)."""
    pairs = F.zip_with(
        toks, F.slice(toks, 2, F.greatest(F.size(toks), F.lit(1))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    return F.filter(pairs, lambda s: s["w2"].isNotNull())


def heldout_bigram_xent(docs: DataFrame, train_mod: int = 2) -> DataFrame:
    """CCNet-style perplexity filter (Wenzek et al. 2020) with a
    HELD-OUT language model: bigram counts train on the ``doc_id %
    train_mod == 0`` half only, and every OTHER doc scores its mean
    cross-entropy under add-1 smoothing — P(w2|w1) = (c2+1)/(c1+V),
    unseen contexts fall back to 1/V.  The held-out split is the point:
    scoring a doc under an LM trained on itself (the in-corpus
    coherence query) systematically flatters duplicated boilerplate.

    -> (doc_id, n_bigrams, xent, ppl) for scored docs with >= 1 bigram;
    high xent = unnatural text, the CCNet "tail" bucket.

    Scale shape: bigram construction is in-row; the two count frames
    are vocab-sized aggregates off ONE exploded train frame (exchange
    reuse); scoring joins key on the gram, V broadcasts as a scalar.
    """
    toked = docs.select(F.col("doc_id"),
                        nonempty_tokens(F.col("text")).alias("toks"))
    train = toked.filter(F.col("doc_id") % train_mod == 0)
    score = toked.filter(F.col("doc_id") % train_mod != 0)
    tb = train.select(F.explode(bigram_structs(F.col("toks"))).alias("b"))
    c2 = (tb.groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c2")))
    c1 = (tb.groupBy(F.col("b.w1").alias("w1"))
          .agg(F.count(F.lit(1)).alias("c1")))
    vocab = (train.select(F.explode("toks").alias("tok"))
             .agg(F.countDistinct("tok").cast("long").alias("v")))
    sb = score.select(
        F.col("doc_id"), F.explode(bigram_structs(F.col("toks"))).alias("b")
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # nullif: a train split with zero tokens gives V = 0 and an unseen
    # context gives c1 = 0 — the denominator would be 0 and Spark's
    # default ANSI mode THROWS on division by zero (DuckDB gives inf);
    # NULL on both engines degrades those docs to NULL xent instead.
    p = ((F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
         / F.nullif((F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                    .cast("double"), F.lit(0.0)))
    xent = F.round(F.sum(-F.log(p)) / F.count(F.lit(1)), 6)
    return (sb.join(c2, ["w1", "w2"], "left")
            .join(c1, "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 xent.alias("xent"))
            .withColumn("ppl", F.round(F.exp("xent"), 4)))
