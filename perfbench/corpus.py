"""Seeded Gutenberg-style corpus for the ``corpus_anagram`` workload.

The corpus is built from a table of tokens whose normalized form is known by
construction, so the expected anagram groups follow from the tokens the
generator emitted, without running any of the program's text functions:

- a Zipf-weighted vocabulary of tens of thousands of distinct words, with
  planted anagram families and Latin-1 accented letters;
- token variants that hit every branch of ``normalize_word``: upper case,
  edge punctuation and edge digits (trimmed to the word), interior digits,
  apostrophes and hyphens (dropped), stop words (dropped), tokens with no
  letters (dropped);
- every header and footer marker variant ``strip_gutenberg`` handles, with
  words planted in the stripped regions that would form extra anagram groups
  if stripping went wrong.

Files are Latin-1 bytes, words are separated by spaces and newlines only.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np

# The program's stop-word set is output-defining; it is listed here again so
# that the expected result does not depend on the code under test.
STOPWORDS = frozenset("""
'tis 'twas a able about across after ain't all almost also am among an and
any are aren't as at be because been but by can can't cannot could could've
couldn't dear did didn't do does doesn't don't either else ever every for
from get got had has hasn't have he he'd he'll he's her hers him his how
how'd how'll how's however i i'd i'll i'm i've if in into is isn't it it's
its just least let like likely may me might might've mightn't most must
must've mustn't my neither no nor not of off often on only or other our own
rather said say says shan't she she'd she'll she's should should've
shouldn't since so some than that that'll that's the their them then there
there's these they they'd they'll they're they've this tis to too twas us
wants was wasn't we we'd we'll we're were weren't what what'd what's when
when'd when'll when's where where'd where'll where's which while who who'd
who'll who's whom why why'd why'll why's will with won't would would've
wouldn't yet you you'd you'll you're you've your
""".split())

ASCII = "abcdefghijklmnopqrstuvwxyz"
ACCENTED = "àáâäçèéêëìíîïñòóôöùúûüýøåæß"
LEAD = ["(", '"', "'", "[", "--", "1"]
TRAIL = [",", ".", ";", ":", "!", "?", ")", '"', "'s.", "2", "...", "]"]

# Marker lines, one per variant strip_gutenberg must handle.
HEADERS = [
    "*** START OF THIS PROJECT GUTENBERG EBOOK {title} ***",
    "*** START OF THE PROJECT GUTENBERG EBOOK {title} ***",
    "***START OF THE PROJECT GUTENBERG EBOOK***",
    None,  # no header: the whole text up to the footer is body
]
FOOTERS = [
    ["End of the Project Gutenberg EBook of {title}"],
    ["End of this Project Gutenberg EBook of {title}"],
    ["End of Project Gutenberg's {title}"],
    ["*** END OF THIS PROJECT GUTENBERG EBOOK {title} ***"],
    ["*** END OF THE PROJECT GUTENBERG EBOOK {title} ***"],
    # both forms: form 1 comes first and wins, as in real books
    ["End of the Project Gutenberg EBook of {title}",
     "*** END OF THIS PROJECT GUTENBERG EBOOK {title} ***"],
    [],  # no footer
]
# Words planted only in stripped regions.  Each pair is an anagram family
# found nowhere in the bodies, so a stripping bug shows up as an extra line.
TRAPS = [("qzvxkle", "lekqzvx"), ("wyjqub", "bujqwy"), ("xqzjvo", "jovqzx")]

# Corpus size and shape: the reference's 100 books of about 43 MB in total.
N_BOOKS = 100
TARGET_BYTES = 43_000_000
N_WORDS = 40_000  # distinct vocabulary words
N_FAMILIES = 3_000  # planted anagram families among them
TOKENS_PER_LINE = 12


@dataclass(frozen=True)
class Corpus:
    path: str
    nbytes: int
    expected: frozenset[str]  # sink lines, "signature: w1 w2 ..."


def _word(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    chars = [rng.choice(ACCENTED) if rng.random() < 0.04 else rng.choice(ASCII)
             for _ in range(n)]
    return "".join(chars)


def _vocabulary(rng: random.Random) -> list[str]:
    """Distinct lowercase words, none a stop word: planted anagram families
    (2-5 permutations of one letter multiset) followed by random words."""
    seen: set[str] = set()
    words: list[str] = []
    for _ in range(N_FAMILIES):
        base = _word(rng, 4, 9)
        members = {base}
        for _ in range(rng.randint(1, 4) * 3):
            letters = list(base)
            rng.shuffle(letters)
            members.add("".join(letters))
            if len(members) >= 5:
                break
        for w in sorted(members):
            if w not in seen and w not in STOPWORDS:
                seen.add(w)
                words.append(w)
    while len(words) < N_WORDS:
        w = _word(rng, 2, 12)
        if w not in seen and w not in STOPWORDS:
            seen.add(w)
            words.append(w)
    return words


def _upper_ok(w: str) -> bool:
    """True when upper-casing round-trips within Latin-1 one char per char
    (excludes ß, ÿ and similar)."""
    u = w.upper()
    return len(u) == len(w) and u.lower() == w and all(ord(c) < 256 for c in u)


def _variants(w: str, rng: random.Random) -> list[tuple[str, str | None]]:
    """(token, normalized form) pairs for one vocabulary word."""
    out = [(w, w), (w, w), (w, w), (rng.choice(LEAD) + w, w)]
    trail = rng.choice(TRAIL)
    # "word's." keeps an interior apostrophe after trimming: dropped
    out.append((w + trail, None if trail == "'s." else w))
    if _upper_ok(w):
        out.append((w.capitalize() if rng.random() < 0.7 else w.upper(), w))
    else:
        out.append((w, w))
    cut = rng.randint(1, len(w) - 1)
    out.append((w[:cut] + rng.choice("0123456789-'&") + w[cut:], None))
    out.append((w + rng.choice(TRAIL[:4]), w))
    return out


def _stop_variants() -> list[tuple[str, None]]:
    out: list[tuple[str, None]] = []
    for s in sorted(STOPWORDS):
        out.append((s, None))
        if s.isalpha():
            out.append((s.capitalize(), None))
            out.append((s + ",", None))
    out += [("--", None), ("1887", None), ("&", None), ("*", None)]
    return out


def expected_lines(words: set[str]) -> frozenset[str]:
    """The sink lines the anagram job must write for these emitted words."""
    groups: dict[str, set[str]] = {}
    for w in words:
        groups.setdefault("".join(sorted(w)), set()).add(w)
    return frozenset(f"{sig}: {' '.join(sorted(ws))}"
                     for sig, ws in groups.items() if len(ws) >= 2)


def generate(path: str, seed: int) -> Corpus:
    """Write N_BOOKS files of about TARGET_BYTES in total under ``path``
    and return the expected anagram lines."""
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)

    vocab = _vocabulary(rng)
    table: list[tuple[str, str | None]] = []
    for w in vocab:
        table.extend(_variants(w, rng))
    n_word_tokens = len(table)
    per_word = n_word_tokens // len(vocab)
    stops = _stop_variants()
    table.extend(stops)
    tokens = np.array([t for t, _ in table], dtype=object)
    norms = [n for _, n in table]

    # Zipf over vocabulary ranks (rank order shuffled by the seed), plus a
    # 25% share of stop words and letterless tokens, as in English prose.
    ranks = nprng.permutation(len(vocab))
    weights = 1.0 / np.power(ranks + 1.0, 1.05)
    weights /= weights.sum()
    word_len = np.array([len(t) for t in tokens[:n_word_tokens]],
                        dtype=float).reshape(len(vocab), -1).mean(axis=1)
    stop_len = float(np.mean([len(t) for t in tokens[n_word_tokens:]]))
    avg_token = 0.75 * float(word_len @ weights) + 0.25 * stop_len + 1
    per_book = TARGET_BYTES // N_BOOKS
    n_tokens = int(per_book / avg_token)

    emitted: set[int] = set()
    nbytes = 0
    for b in range(N_BOOKS):
        word_ids = nprng.choice(len(vocab), size=n_tokens, p=weights)
        ids = word_ids * per_word + nprng.integers(0, per_word, size=n_tokens)
        stop_mask = nprng.random(n_tokens) < 0.25
        ids[stop_mask] = n_word_tokens + nprng.integers(
            0, len(stops), size=int(stop_mask.sum()))
        emitted.update(np.unique(ids).tolist())
        toks = tokens[ids]
        lines = [" ".join(toks[i:i + TOKENS_PER_LINE])
                 for i in range(0, n_tokens, TOKENS_PER_LINE)]
        body = "\n".join(lines)

        title = f"Book {b} of Seed {seed}"
        trap_a, trap_b = TRAPS[b % len(TRAPS)]
        header = HEADERS[b % len(HEADERS)]
        footer = FOOTERS[b % len(FOOTERS)]
        parts = []
        if header is not None:
            parts.append(f"The Project Gutenberg EBook of {title}\n"
                         f"Produced by volunteers {trap_a}\n"
                         + header.format(title=title.upper()) + "\n")
        parts.append(body + "\n")
        if footer:
            parts.append("\n".join(f.format(title=title) for f in footer)
                         + f"\n{trap_b} licence text {trap_a}\n")
        data = "".join(parts).encode("latin-1")
        with open(os.path.join(path, f"book{b:03d}.txt"), "wb") as fh:
            fh.write(data)
        nbytes += len(data)

    words = {norms[i] for i in emitted if norms[i] is not None}
    return Corpus(path, nbytes, expected_lines(words))
