"""The benchmark's workloads: fixed lists of registry queries
(``__spark_entry__.queries()``), each chosen to stress different layers.
The seed permutes the order of the queries within every pass."""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The paper's DSL surface: sub-second scans, Arrow block kernels and
    # small shuffles, so fixed per-query cost (Catalyst, table
    # resolution, job launch) dominates.  No dedup or streaming barriers.
    "samsara_algebra": (
        "drm_colsums",
        "drm_gram",
        "drm_map_block",
        "dridge",
        "point_weights",
    ),
    # The pipeline operators the paper's text path grew into: read-only,
    # shuffle-heavy joins and explodes in ``operators`` and ``functions``
    # (TF-IDF, PMI, cosine top-k), next to writes beside reads on
    # ``operators.dedup``, ``sources`` and ``streaming`` (a persisted
    # dedup index probe with eager checkpoints, an availableNow stream).
    "text_ingest": (
        "text_tfidf",
        "text_pmi_pairs",
        "sim_cosine_topk",
        "dedup_incremental",
        "ev_stream_enriched",
    ),
}

DEFAULT_SEED = 0
