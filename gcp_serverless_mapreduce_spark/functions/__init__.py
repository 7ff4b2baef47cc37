"""Functions the operators and queries share.

- ``text``    : the flagship's text functions (Gutenberg strip, the Go
                ``strings.Fields`` word split, anagram signature,
                stopwords) — built-in column expressions
- ``vectors`` : the double-precision dot-product fold over embeddings
- ``udtfs``   : the ``word_bigrams`` Python UDTF (row-at-a-time, kept
                off the hot paths)
"""
