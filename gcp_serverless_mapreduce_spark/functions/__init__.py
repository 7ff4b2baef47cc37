"""Functions the operators and queries share.

- ``text``    : the flagship's text functions (Gutenberg strip, the Go
                ``strings.Fields`` word split, anagram signature,
                stopwords) — built-in column expressions — and the
                shared whitespace token split
- ``vectors`` : the double-precision dot-product fold over embeddings
- ``udtfs``   : the ``word_bigrams`` Python UDTF (row-at-a-time, kept
                off the hot paths)

Each cross-engine contract (the token split, the stop list, the double
fold) is defined here once, beside its DuckDB and Python twins.
"""
