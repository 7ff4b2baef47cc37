"""DataFrame -> DataFrame operators, one module per query family.

- ``anagram``    : the reference's one real query, end-to-end (SURVEY §3.1)
- ``behavior``   : ordered funnels, transition matrices, retention cohorts
- ``curation``   : PII redaction, segment dedup, benchmark decontamination
- ``dedup``      : exact + MinHash-LSH + SimHash + n-gram Jaccard +
                   embedding near-dup over ``documents``/``embeddings``
- ``graph``      : PageRank, triangle counts, k-core, label propagation
- ``layout``     : Z-order / Hilbert clustering keys, compaction bins
- ``linkage``    : sorted-neighborhood blocking, weighted record linkage
- ``multimodal`` : binary-column plumbing with Arrow-batched decode stages
- ``profiling``  : mergeable histograms, anomaly scores, delta merges
- ``retrieval``  : BM25 lexical scoring
- ``similarity`` : cosine top-k (brute force + bucketed ANN searches)
- ``sketches``   : Count-Min heavy hitters, KMV distinct counts
- ``skew``       : salting patterns for hot join keys
- ``temporal``   : as-of and range joins
- ``textstats``  : language-ID, quality scoring, token counts, fingerprints
"""
