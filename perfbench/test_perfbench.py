"""Tests of the benchmark itself: generator determinism, metric names, the
trace's self-time accounting and the correctness gate's canonical compare.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digests(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(seed: int, out: str) -> dict[str, str]:
    gen.make_tables(f"{out}/data")
    gen.make_increment_project(f"{out}/increment", f"{out}/landing")
    manifest = gen.make_compile_project(seed, f"{out}/compile")
    history: list[str] = []
    for k in (1, 2):
        gen.make_batch(seed, k, f"{out}/landing", history)
    gen.edit_compile_project(seed, 1, manifest)
    return _digests(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    first = _generate(7, str(tmp_path / "w"))
    os.rename(tmp_path / "w", tmp_path / "first")
    assert _generate(7, str(tmp_path / "w")) == first
    os.rename(tmp_path / "w", tmp_path / "second")
    assert _generate(8, str(tmp_path / "w")) != first


def test_compile_edits_touch_a_few_percent_and_change_the_literal(tmp_path):
    manifest = gen.make_compile_project(3, str(tmp_path))
    before = {p: lit for p, _, lit in manifest}
    edited = gen.edit_compile_project(3, 1, manifest)
    assert 0 < len(edited) <= 0.05 * len(manifest) + 1
    for path, out, lit in manifest:
        with open(path) as f:
            text = f.read()
        assert str(lit) in text
        assert (out in edited) == (lit != before[path])


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END_UNITS)
    with open(os.path.join(HERE, "layers.json")) as f:
        layer_map = json.load(f)
    assert set(layer_map) == {m["name"] for m in spec["per_layer"]}


def test_self_times_sum_to_the_root_span_total():
    spans = [
        tracing.Span("runner.run", 0.0, 10.0),
        tracing.Span("operators.write.streaming_table", 1.0, 6.0, parent=0),
        tracing.Span("tables.append", 2.0, 3.0, parent=1),
        tracing.Span("tables.append", 2.5, 4.0, parent=1),  # overlaps its sibling
        tracing.Span("operators.load.sql", 7.0, 8.0, parent=0),
    ]
    selfs = tracing.self_times(spans)
    assert selfs == pytest.approx([4.0, 3.0, 1.0, 1.5, 1.0])
    totals = tracing.layer_totals(spans)
    assert totals["runner.run"]["s"] == 10.0
    assert totals["tables.append"]["calls"] == 2
    # without overlap, the self times of a tree add up to the root's span
    flat = [s for i, s in enumerate(spans) if i != 3]
    assert sum(tracing.self_times(flat)) == pytest.approx(10.0)


def test_totals_of_one_step_keep_parent_links_into_the_whole_trace():
    spans = [
        tracing.Span("runner.run", 0.0, 4.0, step=1),
        tracing.Span("tables.append", 1.0, 2.0, parent=0, step=1),
        tracing.Span("runner.run", 5.0, 9.0, step=2),
        tracing.Span("tables.append", 6.0, 8.0, parent=2, step=2),
    ]
    totals = tracing.layer_totals(spans, step=2)
    assert totals["runner.run"]["self_s"] == pytest.approx(2.0)
    assert totals["tables.append"]["s"] == pytest.approx(2.0)
    assert totals["runner.run"]["calls"] == 1


def test_nested_same_layer_spans_are_not_counted_twice():
    spans = [tracing.Span("llm.dedup", 0.0, 4.0), tracing.Span("llm.dedup", 1.0, 2.0, parent=0)]
    totals = tracing.layer_totals(spans)
    assert totals["llm.dedup"]["s"] == 4.0
    assert totals["llm.dedup"]["self_s"] == pytest.approx(4.0)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert run.tail([float(i) for i in range(15)]) == (100.0, 14.0)
    assert run.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    pct, value = run.tail([float(i) for i in range(1, 41)])
    assert (pct, value) == (75.0, 30.0)


def test_canonical_compare_is_order_insensitive_and_counts_a_planted_row():
    exp = {"t": (["a", "b"], [(1, "0.5"), (2, "1.0")])}
    assert reference.mismatches([(2, "1.0"), (1, "0.5")], exp["t"][1]) == 0
    planted = reference.planted(exp)
    assert reference.mismatches([(1, "0.5"), (2, "1.0")], planted["t"][1]) == 2
    assert reference.canon(-0.0) == reference.canon(0.0)
    assert reference.canon(0.1 + 0.2) == reference.canon(0.3)


def test_materialized_minhash_reference_matches_the_oracle_query(tmp_path):
    import __spark_entry__ as oracle

    history: list[str] = []
    for k in (1, 2, 3):
        gen.make_batch(11, k, str(tmp_path), history)
    con = reference.connect({"documents": f"{tmp_path}/docs/*.parquet"})
    pairs = sorted(reference.minhash_pairs(con))
    assert pairs  # the generator plants near-duplicates
    assert pairs == sorted(con.execute(f"SELECT id_a, id_b FROM ({oracle._minhash_duck()})").fetchall())
