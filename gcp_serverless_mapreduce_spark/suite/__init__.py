"""Query suite: importing this package registers every query family.

Submodules (one per operator family, mirroring SURVEY.md §2 + the
LLM-pipeline extensions):

- ``anagram_q``    : the reference's pipeline (P1-P9, A1-A4)
- ``relational_q`` : joins/aggs/windows/setops/date/json (SURVEY §2.6)
- ``dedup_q``      : exact + MinHash-LSH + SimHash + Jaccard + embedding
- ``similarity_q`` : brute-force cosine top-k + SRP-LSH ANN
- ``textstats_q``  : language-ID, quality, token counts, fingerprints
- ``streaming_q``  : Structured Streaming windowed stats + sessionization
- ``multimodal_q`` : binary payloads through pandas decode/frame/resize
- ``temporal_q``   : as-of join + binned range join
"""

from ..registry import oracle_sql, queries, register  # noqa: F401
from . import anagram_q  # noqa: F401
from . import dedup_q  # noqa: F401
from . import similarity_q  # noqa: F401
from . import textstats_q  # noqa: F401
from . import streaming_q  # noqa: F401
from . import multimodal_q  # noqa: F401
from . import temporal_q  # noqa: F401
from . import relational_q  # noqa: F401
from . import tpch_extra_q  # noqa: F401
from . import formats_q  # noqa: F401
from . import curation_q  # noqa: F401
from . import layout_q  # noqa: F401
from . import behavior_q  # noqa: F401
from . import graph_q  # noqa: F401
from . import retrieval_q  # noqa: F401
from . import sketch_q  # noqa: F401
from . import linkage_q  # noqa: F401
from . import profiling_q  # noqa: F401

# Re-export the flagship for __spark_entry__.entry
from .anagram_q import anagram_groups  # noqa: F401
