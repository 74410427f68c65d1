"""Incremental MV maintenance: multi-batch merge == full recompute; bucketed
state is pruned (untouched buckets not rewritten); non-mergeable aggregates
rejected at spec-validation time."""

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_plumber_spark.models import IncrementalConfig
from lakehouse_plumber_spark.operators.incremental import (
    BUCKET_COL,
    finalize_incremental,
    incremental_update,
    parse_aggs,
)
from lakehouse_plumber_spark.tables import new_store

AGGS = {
    "n": "count(*)",
    "total": "sum(CAST(v AS DECIMAL(18,6)))",
    "lo": "min(v)",
    "hi": "max(v)",
    "mean": "avg(v)",
}


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v double")


def test_multi_batch_equals_full_recompute(spark):
    store = new_store(spark)
    batches = [
        [("a", 1.0), ("a", 2.0), ("b", 10.0)],
        [("a", 3.0), ("c", 5.0)],
        [("b", -1.0), ("c", 0.5), ("a", 4.0)],
    ]
    for b in batches:
        incremental_update(store, "t.state", _mk(spark, b), ["k"], AGGS)
    finalize_incremental(store, "t.mv", "t.state", ["k"], AGGS)

    full = (
        _mk(spark, [r for b in batches for r in b])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(v AS DECIMAL(18,6))")).alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.avg("v").alias("mean"),
        )
    )
    got = {r.k: r for r in store.read("t.mv").collect()}
    want = {r.k: r for r in full.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].n == want[k].n
        assert got[k].total == want[k].total
        assert got[k].lo == want[k].lo and got[k].hi == want[k].hi
        assert abs(float(got[k].mean) - want[k].mean) < 1e-9


def test_bucket_pruning_leaves_untouched_partitions(spark):
    store = new_store(spark)
    incremental_update(store, "t.state", _mk(spark, [("a", 1.0), ("b", 2.0)]), ["k"], AGGS)
    path = store.path("t.state")
    parts = sorted(d for d in os.listdir(path) if d.startswith(f"{BUCKET_COL}="))
    assert len(parts) == 2
    mtimes = {d: os.path.getmtime(os.path.join(path, d)) for d in parts}

    # second batch touches only key "a" -> only a's bucket dir rewritten
    incremental_update(store, "t.state", _mk(spark, [("a", 5.0)]), ["k"], AGGS)
    parts2 = sorted(d for d in os.listdir(path) if d.startswith(f"{BUCKET_COL}="))
    assert parts2 == parts
    changed = [d for d in parts if os.path.getmtime(os.path.join(path, d)) != mtimes[d]]
    assert len(changed) == 1


def test_non_mergeable_aggregates_rejected():
    with pytest.raises(ValueError, match="mergeable"):
        parse_aggs({"bad": "median(v)"})
    with pytest.raises(ValueError, match="mergeable"):
        IncrementalConfig(group_by=["k"], aggs={"bad": "count_distinct(v)"})
    # and via the spec layer
    with pytest.raises(ValueError):
        IncrementalConfig(group_by=[], aggs={"n": "count(*)"})


def test_checkpoint_incarnation_resets_epoch_dedup(spark, tmp_path, runner):
    """Deleting the checkpoint dir (reprocess-from-scratch) restarts stream
    epoch ids at 0; the epoch-dedup marker must not survive into the new
    incarnation, or every replayed batch is silently skipped and the MV
    permanently stops updating (ADVICE r2, medium)."""
    import shutil

    from lakehouse_plumber_spark import load_flowgroup

    feed = tmp_path / "feed"
    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 3.0), ("c", 4.0)], "k string, v double"
    ).repartition(2).write.parquet(str(feed))

    spec = {
        "pipeline": "gold", "flowgroup": "imv_inc",
        "actions": [
            {"name": "feed", "type": "load", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": str(feed), "format": "parquet",
                        "schema": "k string, v double",
                        "options": {"cloudFiles.maxFilesPerTrigger": 1}},
             "target": "v_feed"},
            {"name": "mv", "type": "write", "source": "v_feed",
             "write_target": {
                 "type": "materialized_view", "catalog": "m", "schema": "g",
                 "table": "kv", "refresh_policy": "incremental",
                 "incremental_config": {
                     "group_by": ["k"],
                     "aggs": {"n": "count(*)", "total": "sum(CAST(v AS DECIMAL(18,6)))"},
                 }}},
        ],
    }
    runner.run(load_flowgroup(spec))
    want = {r.k: (r.n, float(r.total)) for r in runner.store.read("m.g.kv").collect()}
    assert want == {"a": (2, 4.0), "b": (1, 2.0), "c": (1, 4.0)}

    # operator reprocesses from scratch: drop checkpoint + state + MV.
    # store.drop() leaves the meta sidecar behind — exactly the trap.
    shutil.rmtree(runner.store.checkpoint_dir("gold", "imv_inc", "imv", "mv"))
    runner.store.drop("m.g.kv__state")
    runner.store.drop("m.g.kv")
    runner.run(load_flowgroup(spec))
    got = {r.k: (r.n, float(r.total)) for r in runner.store.read("m.g.kv").collect()}
    assert got == want, "replayed epochs were skipped by a stale epoch marker"


@pytest.mark.parametrize(
    "incremental_config,guarded",
    [
        ({"group_by": ["k"], "aggs": {"n": "count(*)"}}, "m.g.kv__state"),
        ({"group_by": ["k"], "aggs": {"n": "count(*)", "med": "median(v)"},
          "on_non_mergeable": "recompute"}, "m.g.kv__base"),
    ],
    ids=["incremental", "recompute"],
)
def test_imv_replay_does_not_double_apply(spark, runner, tmp_path, incremental_config, guarded):
    """foreachBatch is at-least-once: deleting the checkpoint's commit log
    (a crash after the batch ran, before its commit) replays the same epoch
    ids, and the epoch guard must skip them. Neither the partial-aggregate merge nor the
    recompute path's base append is idempotent, so a replay that got
    through would double every count."""
    import shutil

    from lakehouse_plumber_spark import load_flowgroup

    feed = tmp_path / "feed"
    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 3.0)], "k string, v double"
    ).coalesce(1).write.parquet(str(feed))
    spec = {
        "pipeline": "gold", "flowgroup": "imv_rp",
        "actions": [
            {"name": "feed", "type": "load", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": str(feed), "format": "parquet",
                        "schema": "k string, v double"},
             "target": "v_feed"},
            {"name": "mv", "type": "write", "source": "v_feed",
             "write_target": {
                 "type": "materialized_view", "catalog": "m", "schema": "g",
                 "table": "kv", "refresh_policy": "incremental",
                 "incremental_config": incremental_config}},
        ],
    }
    runner.run(load_flowgroup(spec))
    counts = {r.k: r.n for r in runner.store.read("m.g.kv").collect()}
    assert counts == {"a": 2, "b": 1}

    ckpt = runner.store.checkpoint_dir("gold", "imv_rp", "imv", "mv")
    shutil.rmtree(os.path.join(ckpt, "commits"))

    ctx = runner.run(load_flowgroup(spec))
    assert {r.k: r.n for r in runner.store.read("m.g.kv").collect()} == counts
    skipped = [e["details"] for e in ctx.event_log if e["event"] == "epoch_skipped"]
    assert skipped and {d["table"] for d in skipped} == {guarded}


def test_on_non_mergeable_flag_validation():
    """'error' (default) rejects non-mergeable aggs at spec time; 'recompute'
    accepts them; anything else is rejected."""
    with pytest.raises(ValueError, match="mergeable"):
        IncrementalConfig(group_by=["k"], aggs={"bad": "median(v)"})
    cfg = IncrementalConfig(
        group_by=["k"], aggs={"bad": "median(v)"}, on_non_mergeable="recompute"
    )
    assert cfg.on_non_mergeable == "recompute"
    with pytest.raises(ValueError, match="on_non_mergeable"):
        IncrementalConfig(group_by=["k"], aggs={"n": "count(*)"}, on_non_mergeable="full")


def test_non_mergeable_recompute_fallback(spark, tmp_path, runner):
    """on_non_mergeable='recompute' (VERDICT r7 item #5): exact distinct and
    median stay CORRECT across refreshes via a checkpointed base table +
    full recompute, and the imv_full_recompute event names the aggregates
    that forced the fallback."""
    from lakehouse_plumber_spark import load_flowgroup

    feed = tmp_path / "feed"
    spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 3.0), ("b", 2.0)], "k string, v double"
    ).coalesce(1).write.mode("append").parquet(str(feed))

    spec = {
        "pipeline": "gold", "flowgroup": "imv_fb",
        "actions": [
            {"name": "feed", "type": "load", "readMode": "stream",
             "source": {"type": "cloudfiles", "path": str(feed), "format": "parquet",
                        "schema": "k string, v double"},
             "target": "v_feed"},
            {"name": "mv", "type": "write", "source": "v_feed",
             "write_target": {
                 "type": "materialized_view", "catalog": "m", "schema": "g",
                 "table": "kv", "refresh_policy": "incremental",
                 "incremental_config": {
                     "group_by": ["k"],
                     "aggs": {"nd": "count(DISTINCT v)", "med": "median(v)",
                              "n": "count(*)"},
                     "on_non_mergeable": "recompute",
                 }}},
        ],
    }
    ctx = runner.run(load_flowgroup(spec))
    got = {r.k: (r.nd, float(r.med), r.n) for r in runner.store.read("m.g.kv").collect()}
    assert got == {"a": (2, 1.0, 3), "b": (1, 2.0, 1)}
    ev = [e for e in ctx.event_log if e["event"] == "imv_full_recompute"]
    assert ev and sorted(ev[0]["details"]["non_mergeable"]) == ["med", "nd"]

    # a later refresh picks up only the NEW file into the base, then
    # recomputes — exact distinct must reflect the union, not the batch
    spark.createDataFrame(
        [("a", 9.0), ("b", 2.0)], "k string, v double"
    ).coalesce(1).write.mode("append").parquet(str(feed))
    runner.run(load_flowgroup(spec))
    got2 = {r.k: (r.nd, r.n) for r in runner.store.read("m.g.kv").collect()}
    assert got2 == {"a": (3, 4), "b": (1, 2)}


def test_count_distinct_classified_non_mergeable():
    """count(DISTINCT x) matches the sum/count/min/max/avg regex SHAPE but
    summing per-batch distinct counts double-counts — it must be rejected
    (or routed to the recompute fallback), never merged."""
    with pytest.raises(ValueError, match="mergeable"):
        parse_aggs({"nd": "count(DISTINCT v)"})
    with pytest.raises(ValueError, match="mergeable"):
        IncrementalConfig(group_by=["k"], aggs={"nd": "count( distinct v )"})
