"""Engine function library: Spark-native (JVM-side, codegen-friendly)
column expressions for text analysis, dedup sketches, and similarity —
the building blocks of the LLM-pipeline operators (SURVEY.md §2-C).
"""

from .text import (  # noqa: F401
    tokens,
    shingles,
    shingle_digests,
    minhash_component,
    stopword_count,
)
from .similarity import dot, cosine, lsh_planes, lsh_bucket  # noqa: F401
from .skew import hot_keys  # noqa: F401
from .sessionize import (  # noqa: F401
    sessionize,
    sessionize_bucketed,
    sessionize_plain,
)
from .scd2 import (  # noqa: F401
    scd2_intervals,
    scd2_intervals_bucketed,
    scd2_intervals_plain,
)
