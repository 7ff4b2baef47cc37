"""Text-normalization expressions for the anagram pipeline (SURVEY §2.2).

Reference parity map (all as Column expressions, JVM-side):

- P1 strip_gutenberg      <- removeBookHeaderAndFooter, mapphase/split.go:90-116
- P2-P8 words             <- strings.Fields split (split.go:68), ToLower
  (split.go:126), per-book distinct (split.go:119-133) and preProcessWord
  (map.go:82-151: edge trim, 185-entry stop words, letters only), fused
  into one regex pass per document
- P9 anagram_signature    <- sort word's chars,        mapphase/map.go:68-76

The Go trim loops have edge quirks (a word with no letters is left
untrimmed), but every such residue is then dropped by the letters-only
check, so matching only tokens whose edge-trimmed core is ``\\p{L}+`` is
observationally equivalent — pinned by the goldens ported from
map_test.go:135-181 in tests/test_text_functions.py.

Beside the flagship's split sits the whitespace split the other text
queries share (:func:`tokens`, :func:`nonempty_tokens`), with its DuckDB
texts and its Python twin :func:`py_tokens`, so the engines cannot drift
apart.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's 185-entry stop-word set, verbatim (mapphase/map.go:84-107).
# Output-defining constant: changing one entry changes the anagram result set.
STOPWORDS: tuple[str, ...] = (
    "'tis", "'twas", "a", "able", "about", "across", "after", "ain't", "all",
    "almost", "also", "am", "among", "an", "and", "any", "are", "aren't",
    "as", "at", "be", "because", "been", "but", "by", "can", "can't",
    "cannot", "could", "could've", "couldn't", "dear", "did", "didn't", "do",
    "does", "doesn't", "don't", "either", "else", "ever", "every", "for",
    "from", "get", "got", "had", "has", "hasn't", "have", "he", "he'd",
    "he'll", "he's", "her", "hers", "him", "his", "how", "how'd", "how'll",
    "how's", "however", "i", "i'd", "i'll", "i'm", "i've", "if", "in",
    "into", "is", "isn't", "it", "it's", "its", "just", "least", "let",
    "like", "likely", "may", "me", "might", "might've", "mightn't", "most",
    "must", "must've", "mustn't", "my", "neither", "no", "nor", "not", "of",
    "off", "often", "on", "only", "or", "other", "our", "own", "rather",
    "said", "say", "says", "shan't", "she", "she'd", "she'll", "she's",
    "should", "should've", "shouldn't", "since", "so", "some", "than",
    "that", "that'll", "that's", "the", "their", "them", "then", "there",
    "there's", "these", "they", "they'd", "they'll", "they're", "they've",
    "this", "tis", "to", "too", "twas", "us", "wants", "was", "wasn't",
    "we", "we'd", "we'll", "we're", "were", "weren't", "what", "what'd",
    "what's", "when", "when'd", "when'll", "when's", "where", "where'd",
    "where'll", "where's", "which", "while", "who", "who'd", "who'll",
    "who's", "whom", "why", "why'd", "why'll", "why's", "will", "with",
    "won't", "would", "would've", "wouldn't", "yet", "you", "you'd",
    "you'll", "you're", "you've", "your",
)


def sql_quote(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


STOPWORDS_SQL = ", ".join(sql_quote(w) for w in STOPWORDS)

# Gutenberg markers, the reference's regex strings (split.go:92, :101,
# :107) with `.` written `[^\n]`.  RE2's `.` matches any character but
# `\n`; Java's `.` also stops at `\r`, U+0085, U+2028 and U+2029, so a
# marker line holding one of those would not match.  `[^\n]` reads the same
# in Java, RE2 and DuckDB: each marker match stays within one line.
_HEADER_RE = r"\*\*\*[^\n]*START OF TH(E|IS) PROJECT GUTENBERG EBOOK[^\n]*\*\*\*"
_FOOTER1_RE = r"End of[ th(e|is)]* Project Gutenberg"
_FOOTER2_RE = r"\*\*\*[^\n]*END OF TH(E|IS) PROJECT GUTENBERG EBOOK[^\n]*\*\*\*"

# Go's unicode.IsSpace restricted to Latin-1, the separator set of
# strings.Fields (split.go:68) on the decoded corpus.  Java's `\s` lacks
# U+0085 and U+00A0, RE2's also lacks U+000B.  The class is written in the
# dialect subset Java and RE2 share, so the DuckDB twins use it verbatim.
_GO_SPACE = r"\t\n\x0B\f\r \x{85}\x{A0}"

# P2+P5+P7 as one pattern: a whole Fields token whose edge-trimmed core is
# letters only.  Group 1 is the core.  The lookarounds pin both ends of
# the match to token boundaries, so a token with an interior non-letter
# matches nowhere.
_WORD_RE = (rf"(?<![^{_GO_SPACE}])[^\p{{L}}{_GO_SPACE}]*(\p{{L}}+)"
            rf"[^\p{{L}}{_GO_SPACE}]*(?![^{_GO_SPACE}])")


def strip_gutenberg(text: Column) -> Column:
    """P1: drop everything up to+incl the START marker (+1 char, matching
    ``text[index[1]+1:]`` at split.go:97) and everything from the first
    footer marker on.  Footer form 1 wins over form 2 when both exist
    (split.go:100-114).

    Each cut is a first-match ``split(..., 2)``, so each marker regex
    scans the book at most once (TUNING.md "Flagship map stage").
    """
    after = F.element_at(F.split(text, _HEADER_RE + r"[\s\S]", 2), -1)
    form1 = F.split(after, _FOOTER1_RE, 2)
    return F.when(F.size(form1) == 2, form1[0]).otherwise(
        F.split(after, _FOOTER2_RE, 2)[0])


def words(text: Column) -> Column:
    """P2-P8 fused: the distinct kept words of one document, in one scan
    of the text.  A kept word is a Fields token, lower-cased, with its
    non-letter edges trimmed, that is letters only and not a stop word.

    Lower-casing the whole text equals lower-casing each token: no
    separator is a cased or case-ignorable character, so no case mapping
    looks across a token boundary.  ``array_except`` also drops repeats,
    which is the per-document distinct (P4).
    """
    return F.array_except(
        F.regexp_extract_all(F.lower(text), F.lit(_WORD_RE), 1),
        F.array(*[F.lit(w) for w in STOPWORDS]),
    )


def anagram_signature(word: Column) -> Column:
    """P9: sort the word's characters — 'race' -> 'acer' (map.go:68-76)."""
    return F.concat_ws("", F.sort_array(F.split(word, "")))


def tokens(text: Column) -> Column:
    """Lowered whitespace tokens as array<string>, empty tokens kept:
    ``split(trim(lower(text)), '\\s+')`` (P2+P3 generalized)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def nonempty_tokens(text: Column) -> Column:
    """:func:`tokens` without its empty tokens."""
    return F.filter(tokens(text), lambda w: w != "")


# The DuckDB twins of tokens(text) and nonempty_tokens(text).
TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"
NONEMPTY_TOKENS_SQL = f"list_filter({TOKENS_SQL}, x -> x <> '')"

# Java's '\s' is the ASCII whitespace class [ \t\n\x0b\f\r] — NOT
# Python str.split()'s Unicode whitespace set (U+00A0, U+2028, ...).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str]:
    """Exact Python twin of :func:`tokens`, on any text: lower-case
    first, trim strips spaces only (the Spark and DuckDB ``trim``
    default), split on Java's ``\\s``, and keep empty tokens, so leading
    or trailing non-space whitespace yields the same empty first or last
    token the JVM expression emits, and Unicode whitespace does not
    split.  RE2 (DuckDB) leaves vertical tab U+000B out of ``\\s``, so
    text containing it is outside the Spark/DuckDB parity contract.
    Callers of the :func:`nonempty_tokens` contract filter the result.
    NULL text is the caller's branch: the expression twins route NULL
    through ``size(NULL) = -1`` guards to an empty array."""
    return _JAVA_WS.split((text or "").lower().strip(" "))
