"""Workload definitions: the registered queries a pass runs, in order.
Every workload reads the same generated tables (``datagen.py``)."""

from __future__ import annotations

WORKLOADS = {
    "relational": (
        "agg_pricing_summary",
        "join_shuffle_hash",
        "join_asof",
        "topk_per_group",
        "sql_shipping_priority",
        "group_quantiles_exact",
    ),
    "corpus_ingest": (
        "tokenizer_segment",
        "dedup_minhash_lsh",
        "similarity_ann_lsh",
        "json_roundtrip",
        "stream_dedup",
    ),
}

#: query-name prefixes owned by each corpus module (per-layer exec time)
MODULE_PREFIXES = {
    "functions": ("text_", "tokenizer_"),
    "dedup": ("dedup_",),
    "similarity": ("similarity_", "embedding_", "kmeans_"),
}


def module_of(query: str) -> str | None:
    for module, prefixes in MODULE_PREFIXES.items():
        if query.startswith(prefixes):
            return module
    return None
