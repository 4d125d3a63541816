"""Streaming topologies: event-time windows with watermarks and custom
stateful operators over topic streams (SURVEY.md §7-M3).

Each topology reuses the SAME transformation its batch twin in
`queries/temporal.py` uses, so the oracle-checked batch result is the
specification of the streaming output.
"""

from .windows import (  # noqa: F401
    tumbling_counts,
    session_counts,
    run_stream_to_memory,
)
from .stateful import running_max_by_key, sessionize  # noqa: F401
from .scd2 import scd2_intervals_stream  # noqa: F401
from .asof import (  # noqa: F401
    asof_batch_twin,
    asof_stream,
    merged_timeline,
)
from .funnel import funnel_stage_stream  # noqa: F401
from .dedup import exact_dedup_pipe, partitioned_exact_dedup_pipes  # noqa: F401
from .neardedup import (  # noqa: F401
    minhash_dedup_pipe,
    windowed_minhash_dedup_pipe,
)
from .state import compact_state, state_dirs  # noqa: F401
from .knn import (  # noqa: F401
    knn_edges_snapshot,
    knn_graph_pipe,
)
from .mv import (  # noqa: F401
    mv_rollup_pipe,
    mv_snapshot,
)
from .prep import (  # noqa: F401
    prep_manifest_snapshot,
    prep_pipeline_pipe,
)
from .dq import (  # noqa: F401
    dq_batch_twin,
    dq_monitor_pipe,
    dq_snapshot,
)
from .ann import (  # noqa: F401
    ivf_index_pipe,
    ivfpq_index_pipe,
    load_index_centroids,
    load_ivfpq_quantizers,
    load_pq_codebooks,
    pq_index_pipe,
    read_ivfpq_index,
    read_pq_codes,
    search_ivf_index,
    search_ivfpq_index,
)
from .topk import topk_batch_twin, topk_pipe, topk_snapshot  # noqa: F401
from .reach import (  # noqa: F401
    reach_batch_twin,
    reach_pipe,
    reach_snapshot,
)
from .index import (  # noqa: F401
    index_batch_twin,
    index_pipe,
    index_snapshot,
    postings_snapshot,
)
from .reach import (  # noqa: F401
    sliding_reach_batch_twin,
    sliding_reach_pipe,
    sliding_reach_snapshot,
)
from .timeseries import (  # noqa: F401
    anomaly_batch_twin,
    anomaly_view,
    bollinger_batch_twin,
    drawdown_batch_twin,
    ewma_batch_twin,
    rolling_median_batch_twin,
    timeseries_stream,
)
from .langseg import (  # noqa: F401
    lang_mix_rollup,
    lang_mix_snapshot,
    lang_segment_report,
    lang_segments_pipe,
    lang_segments_snapshot,
)
