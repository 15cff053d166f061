"""wtq — a PySpark-native web-text quality-filter engine.

Brand-new implementation (not a port) with the data-processing
capabilities of the reference rule-based validator
``FelisPimeja/openstreetmap_water`` (see SURVEY.md): per-record rule
battery with stable rule codes (reference ``err_codes``,
proccess_data.sql:741-808), per-record fired-rule aggregation
(``err_all``, proccess_data.sql:814-841), ingest-time keep/drop
predicate (water.lua:224-241), and tag/content scrubbing
(water.lua:84-221) — re-expressed Spark-first over Common-Crawl-style
pages ``(url, warc_ts, html, text, lang)``.
"""

__version__ = "0.5.0"


def __getattr__(name):
    # Lazy public API: resolving these imports pyspark-heavy modules
    # only when first touched, keeping `import wtq` cheap.
    _API = {
        "get_spark": ("wtq.session", "get_spark"),
        "decide": ("wtq.pipeline", "decide"),
        "run_pipeline": ("wtq.pipeline", "run_pipeline"),
        "run_checkpointed": ("wtq.checkpoint", "run_checkpointed"),
        "build_training_set": ("wtq.build", "build_training_set"),
        "exact_duplicates": ("wtq.operators.dedup", "exact_duplicates"),
        "minhash_lsh_pairs": ("wtq.operators.dedup", "minhash_lsh_pairs"),
        "simhash_near_pairs": ("wtq.operators.dedup", "simhash_near_pairs"),
        "ngram_jaccard_pairs": ("wtq.operators.dedup", "ngram_jaccard_pairs"),
        "connected_components": ("wtq.operators.dedup", "connected_components"),
        "dedup_clusters": ("wtq.operators.dedup", "dedup_clusters"),
        "dedup_resolution": ("wtq.operators.dedup", "dedup_resolution"),
        "drop_near_duplicates": ("wtq.operators.dedup", "drop_near_duplicates"),
        "brute_force_topk": ("wtq.operators.similarity", "brute_force_topk"),
        "lsh_top1": ("wtq.operators.similarity", "lsh_top1"),
        "ivf_topk": ("wtq.operators.similarity", "ivf_topk"),
        "kmeans_centroids": ("wtq.operators.similarity", "kmeans_centroids"),
        "embedding_dup_pairs": ("wtq.operators.similarity", "embedding_dup_pairs"),
        "grid_radius_join": ("wtq.operators.spatial", "grid_radius_join"),
        "asof_join_backward": ("wtq.operators.asof", "asof_join_backward"),
        "text_metrics": ("wtq.operators.text", "text_metrics"),
        "decontaminate": ("wtq.operators.curation", "decontaminate"),
        "benchmark_grams": ("wtq.operators.curation", "benchmark_grams"),
        "incremental_corpus_dedup": ("wtq.operators.curation", "incremental_corpus_dedup"),
        "token_budget_sample": ("wtq.operators.curation", "token_budget_sample"),
        "source_quality_gate": ("wtq.operators.curation", "source_quality_gate"),
        "strip_boilerplate_lines": ("wtq.operators.curation", "strip_boilerplate_lines"),
        "media_features": ("wtq.operators.multimodal", "media_features"),
    }
    if name in _API:
        import importlib

        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'wtq' has no attribute {name!r}")
