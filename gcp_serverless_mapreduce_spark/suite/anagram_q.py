"""Anagram-pipeline queries (the reference's one real query) over
``documents`` — flagship of the suite (SURVEY §3.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import _GO_SPACE, STOPWORDS_SQL
from ..operators import anagram
from ..registry import register
from ..tables import load_table

# Shared CTE prefix: tokenize -> per-doc distinct (P2-P4) -> normalize
# (P5-P7) -> anagram signature (P9), one step per stage: the per-stage
# reference for the fused ``words()`` expression the engine runs.  DuckDB
# regexes are RE2, Spark's are java.util.regex; the patterns used are in
# the common dialect subset (\p{L}, anchors, alternation, \x{..} escapes).
_ANAGRAM_CTE = f"""
WITH toks AS (
    SELECT DISTINCT doc_id, lower(unnest(string_split_regex(trim(text), '[{_GO_SPACE}]+'))) AS word
    FROM documents
),
cleaned AS (
    SELECT regexp_replace(word, '^[^\\p{{L}}]+|[^\\p{{L}}]+$', '', 'g') AS word
    FROM toks
),
kept AS (
    SELECT word FROM cleaned
    WHERE regexp_matches(word, '^\\p{{L}}+$')
      AND word NOT IN ({STOPWORDS_SQL})
),
sigs AS (
    SELECT array_to_string(list_sort(string_split(word, '')), '') AS sorted_word, word
    FROM kept
)
"""


def _anagram_groups_df(spark: SparkSession, sf_dir: str,
                       min_group_size: int) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grouped = anagram.anagram_pipeline(docs, min_group_size=min_group_size)
    return grouped.select(
        "sorted_word",
        F.array_join("anagrams", " ").alias("anagrams"),
        F.col("n_anagrams").cast("long").alias("n_anagrams"),
    )


@register("anagram_groups", _ANAGRAM_CTE + """
SELECT sorted_word,
       array_to_string(list_sort(list(DISTINCT word)), ' ') AS anagrams,
       count(DISTINCT word) AS n_anagrams
FROM sigs
GROUP BY sorted_word
""")
def anagram_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full pipeline, all signature groups (min size 1)."""
    return _anagram_groups_df(spark, sf_dir, min_group_size=1)


@register("anagram_pairs", _ANAGRAM_CTE + """
SELECT sorted_word,
       array_to_string(list_sort(list(DISTINCT word)), ' ') AS anagrams,
       count(DISTINCT word) AS n_anagrams
FROM sigs
GROUP BY sorted_word
HAVING count(DISTINCT word) >= 2
""")
def anagram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful variant incl. HAVING size>1 (reduce.go:86)."""
    return _anagram_groups_df(spark, sf_dir, min_group_size=2)
