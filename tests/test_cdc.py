"""CDC semantics tests: SCD1/SCD2 edge cases per SURVEY §7.4's risk register —
sequence-shuffled input => same final table; deletes; re-inserts;
ignore_null_updates; truncates; multi-column sequences; track-history lists.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_plumber_spark.models import CDCConfig
from lakehouse_plumber_spark.operators.cdc import apply_changes


def _visible(store, name):
    """Reader view: tombstones filtered, like ctx.strip_internal does."""
    df = store.read(name)
    if "__tombstone" in df.columns:
        df = df.filter(~F.col("__tombstone"))
    internal = [c for c in df.columns
                if c.startswith("__") and c not in ("__start_at", "__end_at")]
    return df.drop(*internal)


def _rows(store, name):
    return sorted(
        [tuple(r) for r in _visible(store, name).collect()],
        key=lambda t: tuple(str(x) for x in t),
    )


def _mk(spark, data, schema="id int, v string, seq int, op string"):
    return spark.createDataFrame(data, schema)


CFG1 = CDCConfig(keys=["id"], sequence_by="seq", scd_type=1, apply_as_deletes="op = 'D'",
                 except_column_list=["op"])
CFG2 = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2, apply_as_deletes="op = 'D'",
                 except_column_list=["op"])


class TestSCD1:
    def test_order_invariance(self, spark, runner):
        """Shuffled sequence order => same final state (merge-on-max-sequence)."""
        events = [(1, "a", 1, None), (1, "b", 3, None), (1, "c", 2, None),
                  (2, "x", 5, None), (2, "y", 4, None)]
        for perm, name in [(events, "t.fwd"), (events[::-1], "t.rev")]:
            for row in perm:
                apply_changes(runner.store, name, _mk(spark, [row]), CFG1)
        assert _rows(runner.store, "t.fwd") == _rows(runner.store, "t.rev")
        state = {r["id"]: r["v"] for r in _visible(runner.store, "t.fwd").collect()}
        assert state == {1: "b", 2: "x"}

    def test_stale_update_ignored(self, spark, runner):
        apply_changes(runner.store, "t.stale", _mk(spark, [(1, "new", 10, None)]), CFG1)
        apply_changes(runner.store, "t.stale", _mk(spark, [(1, "old", 5, None)]), CFG1)
        assert {r["v"] for r in _visible(runner.store, "t.stale").collect()} == {"new"}

    def test_delete_and_reinsert(self, spark, runner):
        apply_changes(runner.store, "t.del", _mk(spark, [(1, "a", 1, None)]), CFG1)
        apply_changes(runner.store, "t.del", _mk(spark, [(1, None, 2, "D")]), CFG1)
        assert _visible(runner.store, "t.del").count() == 0
        apply_changes(runner.store, "t.del", _mk(spark, [(1, "b", 3, None)]), CFG1)
        assert {r["v"] for r in _visible(runner.store, "t.del").collect()} == {"b"}

    def test_stale_delete_ignored(self, spark, runner):
        apply_changes(runner.store, "t.sdel", _mk(spark, [(1, "a", 9, None)]), CFG1)
        apply_changes(runner.store, "t.sdel", _mk(spark, [(1, None, 2, "D")]), CFG1)
        assert {r["v"] for r in _visible(runner.store, "t.sdel").collect()} == {"a"}

    def test_ignore_null_updates(self, spark, runner):
        cfg = CDCConfig(keys=["id"], sequence_by="seq", scd_type=1,
                        ignore_null_updates=True)
        df = _mk(spark, [(1, "a", 1, None), (1, None, 2, None)],
                 "id int, v string, seq int, op string").drop("op")
        apply_changes(runner.store, "t.nulls", df, cfg)
        assert {r["v"] for r in _visible(runner.store, "t.nulls").collect()} == {"a"}

    def test_truncate(self, spark, runner):
        cfg = CDCConfig(keys=["id"], sequence_by="seq", scd_type=1,
                        apply_as_truncates="op = 'T'", except_column_list=["op"])
        apply_changes(runner.store, "t.trunc",
                      _mk(spark, [(1, "a", 1, None), (2, "b", 2, None)]), cfg)
        apply_changes(runner.store, "t.trunc",
                      _mk(spark, [(99, None, 5, "T"), (3, "c", 6, None)]), cfg)
        rows = _visible(runner.store, "t.trunc").collect()
        assert {r["id"] for r in rows} == {3}

    def test_multi_column_sequence(self, spark, runner):
        cfg = CDCConfig(keys=["id"], sequence_by=["seq", "sub"], scd_type=1)
        df = _mk(spark, [(1, "a", 1, 2), (1, "b", 1, 3), (1, "c", 1, 1)],
                 "id int, v string, seq int, sub int")
        apply_changes(runner.store, "t.mseq", df, cfg)
        assert {r["v"] for r in _visible(runner.store, "t.mseq").collect()} == {"b"}


class TestSCD2:
    def test_history_intervals(self, spark, runner):
        apply_changes(runner.store, "h.basic",
                      _mk(spark, [(1, "a", 1, None), (1, "b", 3, None), (1, "c", 5, None)]),
                      CFG2)
        rows = sorted(_visible(runner.store, "h.basic").collect(), key=lambda r: r["__start_at"])
        assert [(r["v"], r["__start_at"], r["__end_at"]) for r in rows] == [
            ("a", 1, 3), ("b", 3, 5), ("c", 5, None)]

    def test_out_of_order_backfill(self, spark, runner):
        """A late event between two existing versions splits the interval."""
        apply_changes(runner.store, "h.late",
                      _mk(spark, [(1, "a", 1, None), (1, "c", 5, None)]), CFG2)
        apply_changes(runner.store, "h.late", _mk(spark, [(1, "b", 3, None)]), CFG2)
        rows = sorted(_visible(runner.store, "h.late").collect(), key=lambda r: r["__start_at"])
        assert [(r["v"], r["__start_at"], r["__end_at"]) for r in rows] == [
            ("a", 1, 3), ("b", 3, 5), ("c", 5, None)]

    def test_batch_vs_incremental_equivalence(self, spark, runner):
        events = [(1, "a", 1, None), (1, "b", 4, None), (2, "x", 2, None),
                  (1, None, 6, "D"), (2, "y", 5, None), (1, "z", 8, None)]
        apply_changes(runner.store, "h.all", _mk(spark, events), CFG2)
        for row in events:
            apply_changes(runner.store, "h.inc", _mk(spark, [row]), CFG2)
        assert _rows(runner.store, "h.all") == _rows(runner.store, "h.inc")

    def test_delete_closes_row(self, spark, runner):
        apply_changes(runner.store, "h.del",
                      _mk(spark, [(1, "a", 1, None), (1, None, 4, "D")]), CFG2)
        rows = _visible(runner.store, "h.del").collect()
        assert len(rows) == 1
        assert rows[0]["v"] == "a" and rows[0]["__end_at"] == 4

    def test_reinsert_after_delete(self, spark, runner):
        apply_changes(runner.store, "h.re",
                      _mk(spark, [(1, "a", 1, None), (1, None, 3, "D"), (1, "b", 7, None)]),
                      CFG2)
        rows = sorted(_visible(runner.store, "h.re").collect(), key=lambda r: r["__start_at"])
        assert [(r["v"], r["__start_at"], r["__end_at"]) for r in rows] == [
            ("a", 1, 3), ("b", 7, None)]

    def test_track_history_subset(self, spark, runner):
        """Non-tracked column changes update in place, no new version."""
        cfg = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2,
                        track_history_column_list=["v"])
        df = spark.createDataFrame(
            [(1, "a", 100, 1), (1, "a", 200, 2), (1, "b", 300, 3)],
            "id int, v string, meta int, seq int")
        apply_changes(runner.store, "h.track", df, cfg)
        rows = sorted(_visible(runner.store, "h.track").collect(), key=lambda r: r["__start_at"])
        assert [(r["v"], r["meta"], r["__start_at"], r["__end_at"]) for r in rows] == [
            ("a", 200, 1, 3), ("b", 300, 3, None)]

    def test_unchanged_snapshot_rows_collapse(self, spark, runner):
        """Re-sending identical values at a later sequence must NOT open a new
        version (snapshot idempotency)."""
        apply_changes(runner.store, "h.idem", _mk(spark, [(1, "a", 1, None)]), CFG2)
        apply_changes(runner.store, "h.idem", _mk(spark, [(1, "a", 2, None)]), CFG2)
        rows = _visible(runner.store, "h.idem").collect()
        assert len(rows) == 1 and rows[0]["__start_at"] == 1 and rows[0]["__end_at"] is None


class TestHypothesisStyle:
    @pytest.mark.parametrize("seed", [7, 23, 99])
    def test_random_permutation_invariance_scd2(self, spark, runner, seed):
        import random

        rng = random.Random(seed)
        events = []
        for key in (1, 2, 3):
            for s in range(1, 8):
                op = "D" if rng.random() < 0.15 else None
                events.append((key, f"v{rng.randint(0, 3)}", s * 10 + key, op))
        shuffled = events[:]
        rng.shuffle(shuffled)
        apply_changes(runner.store, f"p.base{seed}", _mk(spark, events), CFG2)
        # shuffled arrival in 3 batches
        third = len(shuffled) // 3
        for i, chunk in enumerate([shuffled[:third], shuffled[third:2 * third], shuffled[2 * third:]]):
            apply_changes(runner.store, f"p.shuf{seed}", _mk(spark, chunk), CFG2)
        assert _rows(runner.store, f"p.base{seed}") == _rows(runner.store, f"p.shuf{seed}")


class TestScaleLayout:
    def test_adaptive_bucket_count_sizing(self):
        from lakehouse_plumber_spark.tables import adaptive_bucket_count

        assert adaptive_bucket_count(0) == 8
        assert adaptive_bucket_count(1_000) == 8
        # 100 TB-ish: 1e12 rows / 2M rows-per-bucket -> capped at 4096
        assert adaptive_bucket_count(10**12) == 4096
        # mid-size: 100M rows / 2M = 50 -> next pow2 = 64
        assert adaptive_bucket_count(100_000_000) == 64
        # always a power of two within bounds
        for n in (1, 10**6, 10**9, 10**13):
            b = adaptive_bucket_count(n)
            assert 8 <= b <= 4096 and (b & (b - 1)) == 0

    def test_bucket_count_persisted_from_first_batch(self, spark, runner, monkeypatch):
        import lakehouse_plumber_spark.operators.cdc as cdc_mod

        monkeypatch.setattr(cdc_mod, "ROWS_PER_BUCKET", 2)  # tiny for the test
        rows = [(i, f"v{i}", 1, None) for i in range(64)]
        apply_changes(runner.store, "t.adapt", _mk(spark, rows), CFG1)
        # 64 rows / 2 per bucket = 32 buckets
        assert int(runner.store.get_meta("t.adapt", "cdc_buckets")) == 32
        # a later one-key batch prunes: merge touches < all buckets
        import os

        path = runner.store.path("t.adapt")
        parts = sorted(d for d in os.listdir(path) if d.startswith("__kb="))
        mtimes = {d: os.path.getmtime(os.path.join(path, d)) for d in parts}
        apply_changes(runner.store, "t.adapt", _mk(spark, [(1, "upd", 2, None)]), CFG1)
        changed = [d for d in parts if os.path.getmtime(os.path.join(path, d)) != mtimes[d]]
        assert len(changed) < len(parts)
        assert {r["v"] for r in _visible(runner.store, "t.adapt")
                .filter("id = 1").collect()} == {"upd"}


class TestLogCompaction:
    CFGC = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2,
                     apply_as_deletes="op = 'D'", except_column_list=["op"],
                     log_compaction_horizon="__max_seq - 3")

    def test_log_plateaus_and_history_preserved(self, spark, runner):
        """Hot key updated every batch: without compaction the hidden log grows
        one row per batch forever; with a horizon it plateaus, while the
        visible SCD2 intervals stay exact."""
        store = runner.store
        log_sizes = []
        for seq in range(1, 13):
            apply_changes(store, "t.comp", _mk(spark, [(1, f"v{seq}", seq, None)]), self.CFGC)
            log = store.read("t.comp").filter("__tombstone")
            log_sizes.append(log.count())
        # log bounded by horizon width (+1 boundary event), not by batch count
        assert max(log_sizes[6:]) <= 5, log_sizes
        versions = _visible(store, "t.comp").orderBy("__start_at").collect()
        assert [r["v"] for r in versions] == [f"v{s}" for s in range(1, 13)]
        # intervals chain: each version closed by the next one's start
        for a, b in zip(versions, versions[1:]):
            assert a["__end_at"] == b["__start_at"]
        assert versions[-1]["__end_at"] is None

    def test_late_event_within_horizon_splices_exactly(self, spark, runner):
        """A late event newer than the horizon must land in the right interval
        after compaction — compare against an uncompacted replay."""
        cfg_plain = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2,
                              apply_as_deletes="op = 'D'", except_column_list=["op"])
        store = runner.store
        batches = [[(1, "a", 1, None)], [(1, "b", 5, None)], [(1, "c", 6, None)],
                   [(1, "late", 4, None)]]  # late, but >= max(6) - 3
        for name, cfg in [("t.lc", self.CFGC), ("t.lp", cfg_plain)]:
            for b in batches:
                apply_changes(store, name, _mk(spark, b), cfg)
        want = sorted([(r["v"], r["__start_at"], r["__end_at"])
                       for r in _visible(store, "t.lp").collect()])
        got = sorted([(r["v"], r["__start_at"], r["__end_at"])
                      for r in _visible(store, "t.lc").collect()])
        assert got == want

    def test_horizon_requires_scalar_sequence(self):
        with pytest.raises(ValueError, match="scd_type 2"):
            CDCConfig(keys=["id"], sequence_by="seq", scd_type=1,
                      log_compaction_horizon="__max_seq - 1")


class TestLogCompactionProperty:
    @pytest.mark.parametrize("seed", [7, 21, 99])
    def test_random_streams_match_uncompacted_replay(self, spark, runner, seed):
        """Randomized in-contract event streams (every event's seq within the
        horizon window of the running max): compacted and plain SCD2 state
        must produce identical visible history after every merge."""
        import random

        rng = random.Random(seed)
        W = 3
        cfg_c = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2,
                          apply_as_deletes="op = 'D'", except_column_list=["op"],
                          log_compaction_horizon=f"__max_seq - {W}")
        cfg_p = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2,
                          apply_as_deletes="op = 'D'", except_column_list=["op"])
        store = runner.store
        global_max = 0
        for batch_no in range(8):
            new_max = global_max + rng.randint(1, 3)
            rows = []
            for _ in range(rng.randint(1, 4)):
                key = rng.choice([1, 2])
                # in-contract: seq >= new_max - (W - 1) > horizon(new_max - W)
                seq = rng.randint(max(1, new_max - (W - 1)), new_max)
                op = "D" if rng.random() < 0.15 else "U"
                rows.append((key, f"v{batch_no}_{seq}_{key}", seq, op))
            # ensure the intended max actually appears
            rows.append((1, f"m{batch_no}", new_max, "U"))
            global_max = new_max
            batch = _mk(spark, rows)
            apply_changes(store, f"t.pc{seed}", batch, cfg_c)
            apply_changes(store, f"t.pp{seed}", batch, cfg_p)
            got = sorted(map(tuple, _visible(store, f"t.pc{seed}")
                             .select("id", "v", "__start_at", "__end_at").collect()))
            want = sorted(map(tuple, _visible(store, f"t.pp{seed}")
                              .select("id", "v", "__start_at", "__end_at").collect()))
            assert got == want, f"divergence after batch {batch_no}"


class TestEmptyBatches:
    def test_empty_first_batch_creates_schema_bearing_target(self, spark, runner):
        from lakehouse_plumber_spark.models import CDCConfig
        from lakehouse_plumber_spark.operators.cdc import apply_changes

        cfg = CDCConfig(keys=["id"], sequence_by="seq", scd_type=2)
        empty = spark.createDataFrame([], "id int, v string, seq int")
        apply_changes(runner.store, "e.first", empty, cfg)
        got = runner.store.read("e.first")
        assert got.count() == 0
        assert {"id", "v", "seq"} <= set(got.columns)
        # and a later real batch merges normally on top
        apply_changes(runner.store, "e.first",
                      spark.createDataFrame([(1, "a", 1)], "id int, v string, seq int"), cfg)
        assert runner.store.read("e.first").filter("NOT __tombstone").count() == 1

    def test_empty_batch_on_existing_target_is_noop(self, spark, runner):
        from lakehouse_plumber_spark.models import CDCConfig
        from lakehouse_plumber_spark.operators.cdc import apply_changes

        cfg = CDCConfig(keys=["id"], sequence_by="seq", scd_type=1)
        apply_changes(runner.store, "e.noop",
                      spark.createDataFrame([(1, "a", 1)], "id int, v string, seq int"), cfg)
        before = sorted(tuple(r) for r in runner.store.read("e.noop").collect())
        apply_changes(runner.store, "e.noop",
                      spark.createDataFrame([], "id int, v string, seq int"), cfg)
        after = sorted(tuple(r) for r in runner.store.read("e.noop").collect())
        assert before == after
