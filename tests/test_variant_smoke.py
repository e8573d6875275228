"""Merged-away variant queries: every query function that lost its contract
slot in the 50-query consolidation must still RUN and produce a non-vacuous
result — plus an AST meta-gate so no future query function can exist without
being registered, referenced, or listed here.
"""

from __future__ import annotations

import ast
import glob
import re
import subprocess

import pytest

from tests.conftest import SF_SMOKE

# (module, function): the consolidated variants — semantics are carried by
# their merged contract queries; this smoke pins that the standalone
# functions themselves keep executing (no silent rot).
VARIANTS = [
    ("queries_temporal", "q_approx_distinct_users"),
    ("queries_temporal", "q_approx_quantiles_value"),
    ("queries_llm", "q_chunk_dedup_stats"),
    ("queries_llm", "q_content_hash_stats"),
    ("queries_reference", "q_count_ratio"),
    ("queries_llm", "q_doc_fingerprint"),
    ("queries_llm", "q_doc_repetition"),
    ("queries_functions", "q_emailsend_json_roundtrip"),
    ("queries_functions", "q_emailsend_nested_fields"),
    ("queries_functions", "q_json_parse_health"),
    ("queries_reference", "q_json_props"),
    ("queries_llm", "q_lsh_bucket_histogram"),
    ("queries_relational", "q_nation_customer_counts"),
    ("queries_llm", "q_ngram_jaccard_pairs"),
    ("queries_reference", "q_non_system_topics"),
    ("queries_relational", "q_order_gaps"),
    ("queries_functions", "q_order_rank_analytics"),
    ("queries_relational", "q_part_price_band_join"),
    ("queries_relational", "q_pivot_status_by_priority"),
    ("queries_reference", "q_priority_namespaces"),
    ("queries_temporal", "q_rolling_7d_user_value"),
    ("queries_relational", "q_running_revenue"),
    ("queries_llm", "q_simhash_signatures"),
    ("queries_reference", "q_sliding_window_counts"),
    ("queries_functions", "q_sql_interface_monthly_revenue"),
    ("queries_llm", "q_text_quality"),
    ("queries_relational", "q_top3_orders_per_customer"),
    ("queries_relational", "q_topk_orders"),
    ("queries_reference", "q_tumbling_window_counts"),
    ("queries_reference", "q_union_listings"),
    ("queries_temporal", "q_value_histogram"),
    ("queries_functions", "q_weighted_avg_price"),
]


@pytest.mark.parametrize("mod,fn", VARIANTS, ids=[f for _, f in VARIANTS])
def test_variant_runs_non_vacuous(spark, mod, fn):
    import importlib

    m = importlib.import_module(f"pulsar_replay_spark.{mod}")
    df = getattr(m, fn)(spark, SF_SMOKE)
    assert df.count() > 0, f"{fn} went vacuous"


def test_no_ungated_query_functions():
    """Meta-gate: every `def q*` in queries_*.py must be registered
    (@register), referenced somewhere outside its own definition, or listed
    in VARIANTS above — a query function can't exist without a gate."""
    listed = {f for _, f in VARIANTS}
    refs = subprocess.run(
        ["grep", "-roh", "-E", r"\bq_?\w+\b",
         "tests/", "__spark_entry__.py", "tools/",
         "pulsar_replay_spark/"],
        capture_output=True, text=True,
    ).stdout.split()
    from collections import Counter

    cnt = Counter(refs)
    ungated = []
    for f in glob.glob("pulsar_replay_spark/queries_*.py"):
        tree = ast.parse(open(f).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and re.match(r"q_?\w", node.name):
                registered = any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
                    for d in node.decorator_list
                )
                # cnt includes this very grep of THIS file listing the name,
                # so "referenced" means strictly more hits than the def +
                # the VARIANTS listing can explain
                referenced = cnt[node.name] > 1
                if not registered and not referenced and node.name not in listed:
                    ungated.append(f"{f}:{node.name}")
    assert not ungated, f"query functions without any gate: {ungated}"


def _module_level_duplicate_defs(source: str) -> list:
    """Names bound by more than one MODULE-LEVEL def/class in one file
    (ast.iter_child_nodes = top level only — nested defs, methods, and
    conditional try/except fallbacks inside functions don't count)."""
    from collections import Counter

    tree = ast.parse(source)
    names = Counter(
        node.name
        for node in ast.iter_child_nodes(tree)
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
    )
    return sorted(n for n, c in names.items() if c > 1)


def test_no_module_level_def_shadowing():
    """Meta-gate (r12, VERDICT): a later module-level def silently
    shadows an earlier same-named one — the r11 `ivf_ingest_sink`
    incident disabled a sink and its test until a probe caught the
    regression. Python raises nothing, so the tree must be clean by
    construction."""
    shadowed = []
    for f in sorted(glob.glob("pulsar_replay_spark/**/*.py", recursive=True)):
        dups = _module_level_duplicate_defs(open(f).read())
        if dups:
            shadowed.append(f"{f}: {dups}")
    assert not shadowed, f"module-level def shadowing: {shadowed}"


def test_module_level_def_shadowing_gate_catches_a_duplicate():
    """The gate itself must go red on a deliberate duplicate."""
    src = "def f():\n    pass\n\ndef g():\n    pass\n\ndef f():\n    pass\n"
    assert _module_level_duplicate_defs(src) == ["f"]
    nested_ok = (
        "def f():\n    def inner():\n        pass\n    return inner\n"
        "class C:\n    def f(self):\n        pass\n"
    )
    assert _module_level_duplicate_defs(nested_ok) == []
