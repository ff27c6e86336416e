"""Every top-level function and class of the package is reached by
name from a product root: the registry (``__spark_entry__.py``), the
``Engine`` facade (``engine.py``), ``bench.py``, ``perfbench/`` or
``tools/``. Tests are consumers, not roots: code only a test calls is
not shipped.

Reachability is by name, not by binding: a root reaches every name it
mentions — identifiers, attributes, imported names and string
constants spelling a (dotted) identifier, as ``getattr`` and tracers
use them — and a reached definition reaches the names in its body.
Module-level statements of the package run on import, so they are
roots too.

``TEST_ONLY`` lists the definitions that only tests reach today: the
index write path (append, audit, repair and compaction, and the
streaming sinks) that the delta-aware index kernel is to take over,
reference implementations that tests compare against,
``charts.render_png``, and a tranche of operators and readers whose
only callers are their own tests (event analytics, per-group and
weighted sampling, the length band, the ORC/JSON/CSV readers and the
partitioned sinks), next in line for deletion. The list can only
shrink: a listed name must be defined, must be reached from
``tests/`` (else it is dead: delete it) and must not be reached from
a product root (else drop it from the list). Any other unreached
definition fails the test.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "data_pengadaan_agent_spark"
IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")

TEST_ONLY = {
    "operators/aggregates.py": "group_trend groupby_sum_count mode_per_group",
    "operators/asof.py": "asof_join_backward_pandas",
    "operators/bloom.py": "audit_bloom_index compact_bloom_index ingest_bloom_batch"
    " repair_bloom_index",
    "operators/bpe.py": "apply_bpe_merges",
    "operators/charts.py": "render_png",
    "operators/cmscube.py": "append_cms_cube",
    "operators/dedup.py": "duplicate_groups passage_dedup_stats",
    "operators/dq.py": "dq_violation_rows replay_quarantine",
    "operators/dupindex.py": "audit_gram_counts compact_gram_counts repair_gram_counts",
    "operators/filters.py": "date_range_filter token_match",
    "operators/graph.py": "degree_histogram",
    "operators/histcube.py": "append_hist_cube",
    "operators/kmv.py": "append_kmv_cube compact_kmv_cube",
    "operators/layout.py": "file_skip_fraction zorder_key_sql",
    "operators/lexindex.py": "append_postings_index audit_postings_index"
    " compact_postings_index",
    "operators/materialize.py": "drop_intermediary read_intermediary",
    "operators/multimodal.py": "payload_byte_stats synthesize_media",
    "operators/pq.py": "append_ivfpq_table audit_ivfpq_table compact_ivfpq_table"
    " ivfpq_adc_topk pq_adc_batch pq_adc_topk pq_quantization_report repair_ivfpq_table",
    "operators/similarity.py": "_require_table _signed _unit append_ivf_table"
    " append_lsh_signature_table build_ivf_table build_lsh_signature_table"
    " compact_ivf_table compact_lsh_signature_table cosine_pairs cosine_topk_pandas"
    " ivf_assignments ivf_topk_precomputed lsh_topk_precomputed",
    "operators/relational.py": "concurrency_timeline event_ngrams event_transitions"
    " retention_cohorts",
    "operators/sampling.py": "sample_per_group weighted_sample weighted_sample_per_group",
    "operators/sketchcube.py": "_sketch_rows append_distinct_cube build_distinct_cube"
    " compact_distinct_cube distinct_rollup",
    "operators/textan.py": "length_outlier_band",
    "operators/trgm.py": "append_trgm_index audit_trgm_index compact_trgm_index"
    " repair_trgm_index trgm_similar",
    "operators/zonemap.py": "_value_rows _vs_paths _vs_read_meta audit_zonemap"
    " build_valueset_index repair_valueset_index repair_zonemap valueset_pruned_scan"
    " valueset_survivor_manifest",
    "sources/catalog.py": "list_tables",
    "sources/readers.py": "overwrite_partitions_dynamic read_events_json"
    " read_keyword_vocab_csv read_orc write_keyword_vocab_csv write_orc write_partitioned",
    "streaming/windows.py": "enrich_events_stream foreach_batch_bloom_sink"
    " foreach_batch_classify_sink foreach_batch_cube_sink foreach_batch_dq_gate_sink"
    " foreach_batch_dup_span_sink foreach_batch_parquet_sink foreach_batch_trgm_sink"
    " purchase_click_join_stream session_windows_stream streaming_dedup"
    " user_running_totals_stream",
}


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _definitions():
    """(module path, name) → node for every top-level definition, and
    the names the package's module-level statements mention."""
    defs, on_import = {}, set()
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        for top in ast.parse(f.read_text()).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, top.name)] = top
            else:
                on_import |= _names(top)
    return defs, on_import


def _live(defs, roots: list[Path], reached: set[str]) -> set[tuple[str, str]]:
    reached = reached.union(*(_names(ast.parse(f.read_text())) for f in roots))
    live: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in live and key[1] in reached:
                live.add(key)
                reached |= _names(node)
                grew = True
    return live


def test_every_package_definition_is_reached_from_a_root():
    product = [REPO / "__spark_entry__.py", PKG / "engine.py", REPO / "bench.py"]
    for d in ("perfbench", "tools"):
        product += sorted((REPO / d).rglob("*.py"))
    defs, on_import = _definitions()
    shipped = _live(defs, product, on_import)
    tested = _live(defs, product + sorted((REPO / "tests").rglob("*.py")), on_import)
    listed = {(rel, name) for rel, names in TEST_ONLY.items() for name in names.split()}

    def fmt(keys):
        return sorted(f"{rel}:{name}" for rel, name in keys)

    assert fmt(defs.keys() - shipped - listed) == [], "unlisted definitions no product root reaches"
    assert fmt(listed - defs.keys()) == [], "listed names the package does not define"
    assert fmt(listed & shipped) == [], "listed names a product root reaches: drop them"
    assert fmt(listed - tested) == [], "listed names nothing reaches, not even a test: delete them"
