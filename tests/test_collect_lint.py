"""Source-level lint for the capped-collect discipline (the companion
to test_plan_lint.py's single-partition-window rule, same r10-verdict
spirit: a defect class humans keep re-introducing gets automated).

A driver-side ``.collect()`` (or ``.toPandas()`` — same transfer, Arrow
framing, r12) is the one API that silently turns a distributed operator
into a single-process one — fine when the frame is PROVABLY bounded (a
scalar aggregate, a ``limit(k+1)`` cap probe, an O(n_buckets) stats
frame), fatal when it is data-sized. Every such call in the package
must therefore sit inside a function listed below WITH ITS BOUND NAMED;
adding a new site fails this test until the author states why the
transfer is bounded.

(``collect_list``/``collect_set`` aggregations are unrelated — they run
distributed — and are not matched.)
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_pipeline_for_retail_sales_data_spark"

# (relative file, enclosing function) -> the bound that makes the
# driver transfer safe at 100 TB
BOUNDED_COLLECTS = {
    ("operators/bpe.py", "bpe_train"): "limit(driver_vocab_cap + 1) / top-merges frame capped by n_merges",
    ("operators/clustering.py", "kmeans_inertia"): "scalar aggregate (1 row)",
    ("operators/clustering.py", "split_oversized_clusters"): "scalar aggregate (1 row) per split round",
    ("operators/clustering.py", "semantic_dedup"): "scalar aggregate (1 row)",
    ("operators/dedup.py", "posting_pairs"): "p99 document-frequency probe: scalar percentile (1 row)",
    ("operators/drift.py", "ks_drift"): "percentile_approx cutpoints: 1 row of ≤ n_buckets values",
    ("operators/pq.py", "_probe_dim"): "limit(1) dimensionality probe",
    ("operators/quality.py", "assert_checks"): "one row per configured CHECK (O(checks))",
    ("operators/similarity.py", "knn_bruteforce"): "limit(max_queries + 1) with an explicit raise beyond",
    ("operators/sketches.py", "qdigest_build"): "limit(hist_cap + 1) toPandas with an explicit raise beyond",
    ("operators/sketches.py", "qdigest_build_split"): "limit(3*hist_cap + 1) toPandas; raises past hist_cap DISTINCT values (documented contract) or 3*hist_cap rows",
    ("operators/text.py", "heaps_fit"): "stats probe: 1 row (total + ≤ n_buckets cutpoints); offsets probe: ≤ n_buckets rows",
    ("operators/text.py", "zipf_fit"): "cutpoints probe: 1 row of ≤ n_buckets values; offsets probe: ≤ n_buckets rows",
    ("operators/text.py", "source_token_divergence"): "one row per SOURCE label (max_sources-guarded)",
    ("plans/corpus.py", "release_corpus"): "scalar funnel counters (1 row)",
    ("plans/incremental_corpus.py", "_ensure_state_table"): "DESCRIBE FORMATTED output (O(columns + properties))",
    ("plans/incremental_corpus.py", "state_report"): "per-cell occupancy totals (1 row) + top-8 cells (limit 8)",
    ("plans/incremental_corpus.py", "ingest_batch_sketch"): "scalar stats aggregate over the staged sketch (1 row)",
    ("queries_registry.py", "q_qdigest_quantiles"): "O(quantile cutpoints) sketch summary",
    ("queries_registry.py", "q_streaming_left_outer_join"): "scalar max timestamp (1 row)",
    ("queries_registry.py", "q_pagerank_neardup"): "scalar mass/teleport invariants (1 row)",
    ("queries_registry.py", "q_weighted_sample_docs"): "scalar invariant verdicts (1 row)",
    ("queries_registry.py", "q_training_corpus_stats"): "scalar corpus counters (1 row)",
    ("queries_registry.py", "q_simhash_fast_pairs"): "scalar parity verdict (1 row)",
    ("queries_registry.py", "q_freq_items_check"): "freqItems sketch: ≤ 1/support items (1 row)",
    ("queries_registry.py", "q_freq_items_parts"): "freqItems sketch: ≤ 1/support items (1 row)",
    ("streaming/sinks.py", "commit_epoch"): "per-epoch audit/drift summaries: O(checks)/O(categories) rows",
    ("versioned.py", "write_audit_publish"): "one row per configured CHECK (O(checks))",
}


def _collect_sites():
    sites = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text())
        funcs = []
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs.append(
                    (node.lineno, max(node.end_lineno or node.lineno, node.lineno), node.name)
                )
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                enclosing, best = None, None
                for lo, hi, name in funcs:
                    if lo <= node.lineno <= hi and (best is None or hi - lo < best):
                        enclosing, best = name, hi - lo
                sites.append(
                    (str(py.relative_to(PKG)), enclosing, node.lineno)
                )
    return sites


def test_every_collect_site_has_a_named_bound():
    unlisted = [
        f"{f}:{line} (in {fn or '<module>'})"
        for f, fn, line in _collect_sites()
        if (f, fn) not in BOUNDED_COLLECTS
    ]
    assert not unlisted, (
        "driver-side .collect() outside the bounded allowlist — state the "
        "bound in tests/test_collect_lint.py or restructure distributed:\n"
        + "\n".join(unlisted)
    )


def test_allowlist_carries_no_dead_entries():
    live = {(f, fn) for f, fn, _ in _collect_sites()}
    dead = [k for k in BOUNDED_COLLECTS if k not in live]
    assert not dead, f"allowlist entries with no matching collect site: {dead}"
