"""Reachability gate: every public top-level function or class in the
engine (``pulsar_replay_spark/``) is reached from a root, or is named in
``ALLOWLIST``; every private one is reached from a root or from an
``ALLOWLIST`` name, so no helper outlives its last caller. There is no
allowlist for private names. Pure AST; no Spark session.

Roots:
- every function registered with ``registry.register`` in ``queries_*.py``;
- the module-level code of every engine module (decorators and default
  values included);
- the non-test ``perfbench/`` modules, ``tools/cli.py``, ``tools/parity.py``
  and ``__spark_entry__.py``, whole.

Edges are name-based: every ``Name``, ``Attribute`` and import-alias
identifier in a reached body reaches each top-level definition of that
name, in any engine module. Docstrings and comments carry no edges. The
pass over-approximates reachability, so a name it calls unreached has no
caller outside ``tests/``.

The allowlist can only shrink: an entry that a root now reaches, or that
no longer exists, fails the gate too. Delete the entry with the code, or
once a root reaches it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENGINE = REPO / "pulsar_replay_spark"
ROOT_FILES = [
    REPO / "tools" / "cli.py",
    REPO / "tools" / "parity.py",
    REPO / "__spark_entry__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]

# Public engine names that no root reaches, by module. Each group names the
# north-star family (ROADMAP) that keeps it, or marks it for deletion.
ALLOWLIST: dict[str, tuple[str, ...]] = {
    "envelope": (
        # capture/replay/generator: the envelope fixture builder
        "synthetic_envelope",
    ),
    "functions.text": (
        # quality: text normalization and language guess
        "lang_guess", "normalize_text", "redact_pii",
    ),
    "functions.udfs": (
        # pending deletion (ROADMAP item 5): UDF plug-in stubs
        "quality_score_udf", "topic_parts_udtf", "ws_token_count_udf",
    ),
    "functions.urls": (
        # pending deletion (ROADMAP item 5): python twin of canonical_url
        "canonical_url_py",
    ),
    "functions.vectors": (
        # IVF/BM25 stores: vector kernels
        "cosine",
    ),
    "operators.artifacts": (
        # IVF store and curation (DSIR) artifacts
        "load_dsir_model", "load_ivf_index", "load_pq_index",
        "save_dsir_model", "save_ivf_index", "save_pq_index",
        # pending deletion (ROADMAP item 5): PCA, classifier, Bloom
        "load_bloom", "load_lr_model", "load_pca_model", "save_bloom",
        "save_lr_model", "save_pca_model",
    ),
    "operators.asof": (
        # pending deletion (ROADMAP item 5)
        "scd2_lookup",
    ),
    "operators.bloom": (
        # dedup: Bloom-filter history membership
        "bloom_build", "bloom_dedup_new_batch", "bloom_might_contain",
        "bloom_params",
    ),
    "operators.bucketing": (
        # pending deletion (ROADMAP item 5)
        "bucketed_join", "write_bucketed", "write_range_clustered",
        "write_zordered", "zorder_value",
    ),
    "operators.capture": (
        # capture/replay/generator
        "observed_capture",
    ),
    "operators.classifier": (
        # quality: quality and language classifiers
        "calibration_report", "doc_features", "lang_classifier_train",
        "lang_psi_contributions", "lang_share_counts", "lang_window_counts",
        "load_lang_model", "lr_score", "lr_train", "save_lang_model",
        "sigmoid", "train_quality_classifier",
    ),
    "operators.curation": (
        # curation
        "chunk_documents", "corpus_drift", "dataset_diff",
        "dataset_diff_summary", "dsir_gumbel_key", "dsir_score", "dsir_select",
        "dsir_select_per_group", "leakage_free_split", "merge_upsert",
        "mixture_sample", "mixture_summary", "temperature_mixture",
        "temperature_weights",
    ),
    "operators.dedup": (
        # dedup
        "cluster_label_deltas", "cluster_summary", "compact_simhash_store",
        "dup_span_stats", "incremental_dup_span_scrub",
        "incremental_hamming_pairs", "incremental_hamming_pairs_multi",
        "incremental_minhash_pairs", "incremental_simhash_pairs", "lsh_plan",
        "merge_cluster_labels", "simhash_dup_clusters", "simhash_multi",
        "simhash_near_pairs_multi",
    ),
    "operators.graph": (
        # pending deletion (ROADMAP item 5): link graph
        "domain_rank", "personalized_pagerank",
    ),
    "operators.packing": (
        # packing
        "batching_stats", "length_bucketed_batches", "pack_greedy",
        "packing_stats", "write_training_shards",
    ),
    "operators.pca": (
        # pending deletion (ROADMAP item 5)
        "embedding_moments", "pca_fit", "pca_ivf_topk", "pca_project",
        "random_projection",
    ),
    "operators.quality": (
        # quality
        "check_suite", "drift_by_window", "psi_contributions", "psi_drift",
        "psi_from_window_hist", "quarantine", "referential_violations",
        "repetition_signals", "score_histogram", "vocab_stats",
        "window_histogram",
    ),
    "operators.retrieval": (
        # IVF/BM25 stores
        "anchor_retrieval_pairs", "hybrid_topk", "hybrid_topk_from_stores",
        "lexical_decontaminate_from_index", "rrf_fuse",
    ),
    "operators.similarity": (
        # IVF/BM25 stores and semantic dedup
        "assignment_cohesion", "bitext_candidates_ivf", "candidate_fraction",
        "dim_ablation_recall", "embedding_cell_histogram", "embedding_drift",
        "embedding_drift_contributions", "embedding_near_dup_pairs_lsh",
        "hard_negatives", "incremental_semantic_dedup", "ivf_pq_topk",
        "lsh_buckets", "lsh_candidate_fraction", "lsh_params", "mmr_rerank",
        "pq_index", "semantic_dedup_stats", "semdedup_cells",
    ),
    "operators.skew": (
        # pending deletion (ROADMAP item 5)
        "join_size_estimate", "key_skew_report", "salted_count_sum",
        "salted_join",
    ),
    "operators.stats": (
        # pending deletion (ROADMAP item 5)
        "ewma", "zscore_by_group_sql",
    ),
    "operators.textnorm": (
        # quality: mojibake repair
        "mojibake_marker_count", "mojibake_report",
    ),
    "operators.vecstore": (
        # IVF/BM25 stores
        "ivf_pq_topk_from_index", "ivf_store_cohesion", "ivf_store_compact",
        "ivf_store_expire", "ivf_store_retrain",
    ),
    "pipeline": (
        # curation
        "data_card",
    ),
    "queries_functions": (
        # pending deletion (ROADMAP item 5): unregistered query bodies
        "q_bpe_token_counts", "q_emailsend_json_roundtrip",
        "q_emailsend_nested_fields", "q_heavy_hitters_event_type",
        "q_json_parse_health", "q_order_rank_analytics",
        "q_qty_price_correlation", "q_sql_interface_monthly_revenue",
        "q_weighted_avg_price",
    ),
    "queries_llm": (
        # pending deletion (ROADMAP item 5): unregistered query bodies
        "q_chunk_dedup_stats", "q_content_hash_stats", "q_doc_fingerprint",
        "q_doc_repetition", "q_lsh_bucket_histogram", "q_ngram_jaccard_pairs",
        "q_simhash_signatures", "q_text_quality",
    ),
    "queries_reference": (
        # pending deletion (ROADMAP item 5): unregistered query bodies
        "q_count_ratio", "q_json_props", "q_non_system_topics",
        "q_per_topic_count", "q_priority_namespaces",
        "q_sliding_window_counts", "q_tumbling_window_counts",
        "q_union_listings",
    ),
    "queries_relational": (
        # pending deletion (ROADMAP item 5): unregistered query bodies
        "q_customers_without_orders", "q_nation_customer_counts",
        "q_nations_with_f_orders", "q_order_gaps", "q_part_price_band_join",
        "q_pivot_status_by_priority", "q_running_revenue",
        "q_top3_orders_per_customer", "q_topk_orders",
    ),
    "queries_temporal": (
        # pending deletion (ROADMAP item 5): unregistered query bodies
        "q_approx_distinct_users", "q_approx_quantiles_value",
        "q_rolling_7d_user_value", "q_value_histogram",
    ),
    "session": (
        # pending deletion (ROADMAP item 5): SQL-view table loaders
        "load_tables", "register_views",
    ),
    "sources.auth": (
        # capture/replay/generator: broker authentication
        "PulsarContext", "resolve_service_url",
    ),
    "sources.console": (
        # capture/replay/generator: message printing
        "console_stream", "print_messages",
    ),
    "sources.corpusio": (
        # pending deletion (ROADMAP item 5): WARC/JSONL corpus readers
        "extract_main_text", "page_anchors", "page_link_hosts",
        "read_jsonl_corpus", "read_text_corpus", "read_warc_anchors",
        "read_warc_corpus", "read_warc_links", "stream_jsonl_corpus",
        "stream_warc_anchors", "stream_warc_corpus", "stream_warc_links",
        "write_jsonl_corpus",
    ),
    "sources.jsonio": (
        # pending deletion (ROADMAP item 5): ORC/Avro/CSV, JSONL I/O
        "compact_parquet", "read_avro_capture", "read_csv_capture",
        "read_jsonl_corpus", "read_orc_capture", "write_avro_capture",
        "write_csv_capture", "write_jsonl_corpus", "write_orc_capture",
    ),
    "streaming.pipelines": (
        # streaming ingest, dedup and the IVF/BM25 store sinks
        "ann_serving_sink", "curation_ingest_sink", "curation_state_expire",
        "dedup_index_compact", "documents_stream", "dsir_scoring_sink",
        "dup_span_ingest_sink", "dup_span_store_compact",
        "dup_span_store_expire", "embeddings_stream",
        "foreach_batch_to_parquet", "generated_stream",
        "incremental_dedup_sink", "incremental_labels_sink",
        "incremental_simhash_sink", "ivf_ingest_sink", "ivf_store_ingest_sink",
        "labels_compact", "postings_compact", "postings_index_expire",
        "postings_ingest_sink", "read_cluster_labels", "read_parquet_or_empty",
        "read_semantic_verdicts", "run_available_now",
        "run_available_now_complete", "running_counts_stateful",
        "semantic_dedup_sink", "semantic_state_expire",
        "semantic_verdicts_compact", "session_windows", "stream_static_enrich",
        "stream_stream_interval_join", "windowed_counts",
        # pending deletion (ROADMAP item 5): CDC, rollup, drift, graph and
        # sample sinks
        "cdc_apply_sink", "cdc_compact", "cdc_read", "continuous_rollup_sink",
        "domain_rank_refresh", "drift_monitor_read", "drift_monitor_sink",
        "embedding_drift_from_index", "embedding_drift_read",
        "embedding_drift_sink", "lang_drift_sink", "link_graph_sink",
        "read_link_store", "rollup_compact", "rollup_ewma", "rollup_read",
        "rollup_read_coarse", "rollup_topk", "sample_read", "sample_sink",
    ),
}


def _identifiers(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_register(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _unreached(
    engine: Path = ENGINE, root_files: list[Path] = ROOT_FILES, seeds=()
):
    """{(module, name)} of the top-level definitions that neither a root
    nor a name in ``seeds`` reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = [ast.parse(p.read_text()) for p in root_files]
    registered: set[str] = set()
    for path in sorted(engine.rglob("*.py")):
        module = ".".join(path.relative_to(engine).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if not isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                roots.append(stmt)
                continue
            defs.setdefault(stmt.name, []).append((module, stmt))
            roots.extend(stmt.decorator_list)
            if isinstance(stmt, ast.ClassDef):
                roots.extend(stmt.bases + stmt.keywords)
                continue
            roots.extend(stmt.args.defaults)
            roots.extend(d for d in stmt.args.kw_defaults if d is not None)
            if module.startswith("queries_") and any(
                _is_register(d) for d in stmt.decorator_list
            ):
                registered.add(stmt.name)
                roots.append(stmt)
    reached: set[str] = set()
    todo = [*_identifiers(roots), *registered, *seeds]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_identifiers([node]))
    return {
        (module, name)
        for name, found in defs.items()
        for module, _ in found
        if name not in reached
    }


def test_every_public_engine_name_is_reached_or_allowlisted():
    unreached = {(m, n) for m, n in _unreached() if not n.startswith("_")}
    allowed = {(m, n) for m, names in ALLOWLIST.items() for n in names}
    missing = sorted(unreached - allowed)
    assert not missing, (
        "public engine names that no root reaches (delete them, reach them "
        f"from a root, or allowlist them with a reason): {missing}"
    )


def test_every_private_engine_name_is_reached():
    allowed = {n for names in ALLOWLIST.values() for n in names}
    dead = sorted(
        (m, n) for m, n in _unreached(seeds=allowed) if n.startswith("_")
    )
    assert not dead, (
        "private engine names that neither a root nor an allowlisted name "
        f"reaches (delete them): {dead}"
    )


def test_allowlist_only_shrinks():
    unreached = _unreached()
    stale = sorted(
        (m, n)
        for m, names in ALLOWLIST.items()
        for n in names
        if (m, n) not in unreached
    )
    assert not stale, (
        "allowlisted names that a root now reaches or that no longer exist "
        f"(drop them from ALLOWLIST): {stale}"
    )
    for module, names in ALLOWLIST.items():
        assert len(names) == len(set(names)), f"duplicate entry in {module}"


def test_gate_sees_an_unreached_function(tmp_path):
    """The pass itself: a function only a test calls is unreached;
    calling it from a root, from a reached function, or (for the helpers
    of an allowlisted name) from a seed reaches it."""
    engine = tmp_path / "pkg"
    engine.mkdir()
    (engine / "queries_x.py").write_text(
        "from pkg.registry import register\n\n"
        "@register('q')\n"
        "def q(spark, sf_dir):\n"
        "    '''orphan() in a docstring is not an edge'''\n"
        "    return helper(spark)\n"
    )
    (engine / "ops.py").write_text(
        "def helper(spark):\n    return _private(spark).kernel()\n\n"
        "def _private(spark):\n    return spark\n\n"
        "def kernel():\n    return 1\n\n"
        "def orphan():\n    return _orphan_helper()\n\n"
        "def _orphan_helper():\n    return 2\n\n"
        "def _dead():\n    return 4\n\n"
        "class Tool:\n    def run(self):\n        return entry_only()\n\n"
        "def entry_only():\n    return 3\n"
    )
    root = tmp_path / "cli.py"
    root.write_text("from pkg.ops import Tool\n")
    assert _unreached(engine, [root]) == {
        ("ops", "orphan"), ("ops", "_orphan_helper"), ("ops", "_dead")
    }
    assert _unreached(engine, [root], seeds={"orphan"}) == {("ops", "_dead")}
    root.write_text("import pkg.ops as o\no.Tool\no.orphan()\n")
    assert _unreached(engine, [root]) == {("ops", "_dead")}
