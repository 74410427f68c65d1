"""ParquetTableStore maintenance tests: small-file compaction (the parquet
analogue of Delta OPTIMIZE — the reference delegates it to the platform;
this engine owns it)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_plumber_spark.tables import ParquetTableStore


def _store(spark, tmp_path) -> ParquetTableStore:
    return ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))


def test_compact_unpartitioned_collapses_append_files(spark, tmp_path):
    st = _store(spark, tmp_path)
    t = "main.s.t"
    for i in range(6):  # six appends -> many small files
        st.append(t, spark.range(i * 10, i * 10 + 10).withColumn("v", F.col("id") * 2))
    before = sorted((r.id, r.v) for r in st.read(t).collect())
    res = st.compact(t)
    assert res["files_before"] > res["files_after"] == 1
    assert res["partition_columns"] == []
    assert sorted((r.id, r.v) for r in st.read(t).collect()) == before


def test_compact_partitioned_preserves_layout_and_content(spark, tmp_path):
    st = _store(spark, tmp_path)
    t = "main.s.p"
    df = spark.range(0, 100).withColumn("b", (F.col("id") % 4).cast("int"))
    for _ in range(4):  # repeated partition-scoped writes fragment each bucket
        st.append(t, df, partition_columns=["b"])
    before = sorted((r.id, r.b) for r in st.read(t).collect())
    n_before = st._data_file_count(t)
    res = st.compact(t)
    assert res["partition_columns"] == ["b"]
    assert res["files_before"] == n_before > res["files_after"]
    # one file per partition value after co-located rewrite
    assert res["files_after"] == 4
    assert sorted((r.id, r.b) for r in st.read(t).collect()) == before


def test_compact_leaves_cdf_and_meta_untouched(spark, tmp_path):
    st = _store(spark, tmp_path)
    t = "main.s.c"
    df = spark.range(0, 10).withColumn("v", F.lit(1))
    st.append(t, df)
    st.append(t, df)
    st.set_meta(t, "cdc_buckets", 7)
    v = st.next_version(t)
    st.log_changes(t, st.read(t), "insert", version=v)
    n_changes = st.read_changes(t, 0).count()
    st.compact(t)
    assert st.get_meta(t, "cdc_buckets") == 7
    assert st.current_version(t) == v
    assert st.read_changes(t, 0).count() == n_changes


def test_streaming_table_auto_compact_property(spark, tmp_path):
    """lhp.autoOptimize.maxFiles on a streaming table: repeated append flows
    trip the bound and the engine compacts in place (event-logged), content
    unchanged."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    spec = {
        "pipeline": "p", "flowgroup": "f",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id, id * 2 AS v FROM RANGE(50)"},
             "target": "v_in"},
            {"name": "wr", "type": "write", "source": "v_in",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "3"}}},
        ],
    }
    runner = PipelineRunner(spark, store=store)
    for _ in range(4):  # batch append flows fragment the table
        runner.run(load_flowgroup(spec))
    assert store._data_file_count("m.s.t") <= 3
    assert store.read("m.s.t").count() == 200
    events = runner.event_log_df()
    assert events.where("event = 'auto_compacted'").count() >= 1


def test_run_many_compacts_between_stages(spark, tmp_path):
    """run_many compacts between stages — after a table's writing stage,
    before any reader stage starts — so every context's read still
    resolves afterwards (no stale file index over deleted files)."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    writer = {
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id FROM RANGE(40)"}, "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "catalog": "m", "schema": "s",
                              "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "1"}}},
        ],
    }
    reader = {
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "mv", "type": "write", "source": "m.s.t",
             "write_target": {"type": "materialized_view", "catalog": "m", "schema": "g",
                              "table": "agg",
                              "sql": "SELECT COUNT(*) AS n FROM m__s__t"}},
        ],
    }
    runner = PipelineRunner(spark, store=store)
    runner.run_many([load_flowgroup(writer), load_flowgroup(reader)])
    ctxs = runner.run_many([load_flowgroup(writer), load_flowgroup(reader)])
    # every context still resolves after the global compaction pass
    assert ctxs[0].resolve_view("m.s.t").count() == 80
    assert ctxs[1].resolve_view("m.g.agg").collect()[0].n == 80
    assert store._data_file_count("m.s.t") == 1
    assert runner.event_log_df().where("event='auto_compacted'").count() >= 1


def test_stage_compaction_respects_later_stage_readers_and_strictest_bound(spark, tmp_path):
    """Two guarantees of the between-stages compaction point: (a) a later
    flowgroup that loads the table into a DIFFERENTLY-NAMED view reads
    post-compaction files (its captured index is never invalidated);
    (b) when sibling flowgroups declare different maxFiles bounds for one
    table, the strictest wins regardless of submission order."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))

    def writer(name, max_files, create):
        return {
            "pipeline": "a", "flowgroup": name,
            "actions": [
                {"name": "ld", "type": "load",
                 "source": {"type": "sql", "sql": "SELECT id FROM RANGE(40)"}, "target": "v"},
                {"name": "wr", "type": "write", "source": "v",
                 "write_target": {"type": "streaming_table", "catalog": "m", "schema": "s",
                                  "table": "t", "create_table": create,
                                  "table_properties": {"lhp.autoOptimize.maxFiles": str(max_files)}}},
            ],
        }

    # a loose bound submitted FIRST must not mask the sibling's strict bound
    reader = {
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "ld2", "type": "load",
             "source": {"type": "delta", "table": "m.s.t"}, "target": "v_copy"},
            {"name": "mv", "type": "write", "source": "v_copy",
             "write_target": {"type": "materialized_view", "catalog": "m", "schema": "g",
                              "table": "agg",
                              "sql": "SELECT COUNT(*) AS n FROM v_copy"}},
        ],
    }
    runner = PipelineRunner(spark, store=store)
    specs = [load_flowgroup(writer("w1", 100, True)),
             load_flowgroup(writer("w2", 1, False)),
             load_flowgroup(reader)]
    runner.run_many(specs)
    ctxs = runner.run_many(specs)
    # strictest bound (1) applied even though the loose writer came first
    assert store._data_file_count("m.s.t") == 1
    # the reader's differently-named view still resolves post-run
    assert ctxs[2].resolve_view("v_copy").count() == 160
    assert ctxs[2].resolve_view("m.g.agg").collect()[0].n == 160


def test_within_flowgroup_compaction_merge_strictest_bound(spark, tmp_path):
    """Two append flows into one target WITHIN one flowgroup with different
    maxFiles bounds: the strictest must win (same merge rule as the
    cross-context pass) — dict assignment must not let the last flow mask
    its sibling's stricter bound."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    fg = {
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld1", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id FROM RANGE(40)"}, "target": "v1"},
            {"name": "ld2", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id + 100 AS id FROM RANGE(40)"}, "target": "v2"},
            # strict bound FIRST, loose bound SECOND: last-wins would keep 100
            {"name": "wr1", "type": "write", "source": "v1",
             "write_target": {"type": "streaming_table", "catalog": "m", "schema": "s",
                              "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "1"}}},
            {"name": "wr2", "type": "write", "source": "v2",
             "write_target": {"type": "streaming_table", "catalog": "m", "schema": "s",
                              "table": "t", "create_table": False,
                              "table_properties": {"lhp.autoOptimize.maxFiles": "100"}}},
        ],
    }
    runner = PipelineRunner(spark, store=store)
    runner.run(load_flowgroup(fg))
    ctx = runner.run(load_flowgroup(fg))
    assert store._data_file_count("m.s.t") == 1
    assert ctx.resolve_view("m.s.t").count() == 160


def test_merge_compaction_rule():
    """_merge_compaction unit contract: strictest bound, ordering survives,
    logged action follows the ordering actually applied."""
    from lakehouse_plumber_spark.operators.write import _merge_compaction

    # ordering on the loose side: bound from strict, ccols+name from orderer
    assert _merge_compaction(("strict", 1, [], False), ("ordered", 9, ["c"], False)) == ("ordered", 1, ["c"], False)
    # ordering on the strict side: everything from it
    assert _merge_compaction(("s", 1, ["k"], False), ("loose", 9, [], False)) == ("s", 1, ["k"], False)
    # neither orders: stricter side names the event
    assert _merge_compaction(("a", 5, [], False), ("b", 2, [], False)) == ("b", 2, [], False)
    # both order: first registration's ordering wins (stable), strictest bound
    assert _merge_compaction(("a", 5, ["x"], False), ("b", 2, ["y"], True)) == ("a", 2, ["x"], False)
    # the morton flag travels with the ordering that survives
    assert _merge_compaction(("a", 5, ["x", "y"], True), ("b", 2, [], False)) == ("a", 2, ["x", "y"], True)
    assert _merge_compaction(("a", 5, [], False), ("b", 2, ["x", "y"], True)) == ("b", 2, ["x", "y"], True)


def test_compact_refuses_streaming_consumed_table(spark, tmp_path):
    """ADVICE r4 high: compaction renames every data file, and a parquet
    FileStreamSource checkpoint tracks processed file PATHS — so a table that
    has ever been read as a stream must refuse compaction (every checkpointed
    consumer would re-ingest it in full)."""
    import pytest

    st = _store(spark, tmp_path)
    t = "main.s.sc"
    for i in range(3):
        st.append(t, spark.range(i * 5, i * 5 + 5))
    st.read_stream(t)  # marks the table as streaming-consumed (persistently)
    with pytest.raises(ValueError, match="stream"):
        st.compact(t)
    # explicit override for operators who reset every consumer checkpoint
    res = st.compact(t, force=True)
    assert res["files_after"] == 1


def test_auto_compact_skipped_for_streaming_consumed_target(spark, tmp_path):
    """End-to-end: a flowgroup declares lhp.autoOptimize.maxFiles on a table
    another flowgroup consumes as a stream. The runner must SKIP the
    compaction (logged as auto_compact_skipped), and the streaming consumer's
    checkpoint must keep exactly-once semantics across runs — before the fix
    the post-compaction rename made run 2 re-ingest the whole table."""
    from lakehouse_plumber_spark.parsers import load_flowgroup
    from lakehouse_plumber_spark.runner import PipelineRunner

    store = ParquetTableStore(spark=spark, root=str(tmp_path / "wh"))
    writer = {
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT id FROM RANGE(40)"},
             "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "1"}}},
        ],
    }
    consumer = {
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "ld", "type": "load", "readMode": "stream",
             "source": {"type": "delta", "catalog": "m", "schema": "s",
                        "table": "t"},
             "target": "v_src"},
            {"name": "wr", "type": "write", "source": "v_src",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "u"}},
        ],
    }
    runner = PipelineRunner(spark, store=store)
    runner.run_many([load_flowgroup(writer), load_flowgroup(consumer)])
    runner.run_many([load_flowgroup(writer), load_flowgroup(consumer)])
    # exactly-once: the consumer holds exactly the producer's rows, no re-ingest
    assert store.read("m.s.t").count() == 80
    assert store.read("m.s.u").count() == 80
    ev = runner.event_log_df()
    # run 1 may legitimately compact (the compaction pass runs before the
    # consumer's first stream, so no checkpoint exists yet); once the table
    # is marked streaming-consumed every later registration must skip
    assert ev.where("event = 'auto_compact_skipped'").count() >= 1
    # the table keeps run-2's small files — correct trade against re-ingestion
    assert store._data_file_count("m.s.t") > 1


def test_validate_streaming_compaction_flags_conflict(spark):
    """Static project-level check for the same hazard (dag.py)."""
    from lakehouse_plumber_spark.dag import validate_streaming_compaction
    from lakehouse_plumber_spark.parsers import load_flowgroup

    writer = load_flowgroup({
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT 1 AS id"}, "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "4"}}},
        ],
    })
    consumer = load_flowgroup({
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "ld", "type": "load", "readMode": "stream",
             "source": {"type": "delta", "catalog": "m", "schema": "s",
                        "table": "t"},
             "target": "v_src"},
            {"name": "wr", "type": "write", "source": "v_src",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "u"}},
        ],
    })
    problems = validate_streaming_compaction([writer, consumer])
    assert len(problems) == 1 and "m.s.t" in problems[0]
    # batch consumers are fine
    batch = load_flowgroup({
        "pipeline": "b", "flowgroup": "r2",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "delta", "catalog": "m", "schema": "s",
                        "table": "t"},
             "target": "v_src"},
            {"name": "wr", "type": "write", "source": "v_src",
             "write_target": {"type": "materialized_view", "catalog": "m",
                              "schema": "g", "table": "agg"}},
        ],
    })
    assert validate_streaming_compaction([writer, batch]) == []


def test_drop_clears_streaming_consumer_marker(spark, tmp_path):
    """A dropped table has no files any checkpoint has seen: the rebuilt
    table must be compactable again (review r5: the marker must not outlive
    the table it describes)."""
    st = _store(spark, tmp_path)
    t = "main.s.dropped"
    st.append(t, spark.range(5))
    st.read_stream(t)
    st.drop(t)
    for i in range(3):
        st.append(t, spark.range(i * 5, i * 5 + 5))
    res = st.compact(t)  # must NOT raise
    assert res["files_after"] == 1


def test_validate_streaming_compaction_catches_sql_stream_refs(spark):
    """stream(table) inside SQL text is a streaming consumer too."""
    from lakehouse_plumber_spark.dag import validate_streaming_compaction
    from lakehouse_plumber_spark.parsers import load_flowgroup

    writer = load_flowgroup({
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT 1 AS id"}, "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "4"}}},
        ],
    })
    consumer = load_flowgroup({
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "tx", "type": "transform", "transform_type": "sql",
             "sql": "SELECT * FROM stream(m.s.t)", "target": "v2"},
            {"name": "wr", "type": "write", "source": "v2",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "u"}},
        ],
    })
    problems = validate_streaming_compaction([writer, consumer])
    assert len(problems) == 1 and "m.s.t" in problems[0]


def test_streaming_compaction_validator_ignores_comments_and_strings(spark):
    """stream() refs inside block comments or string literals are not
    consumers; the validator must not refuse the project over them."""
    from lakehouse_plumber_spark.dag import validate_streaming_compaction
    from lakehouse_plumber_spark.parsers import load_flowgroup

    writer = load_flowgroup({
        "pipeline": "a", "flowgroup": "w",
        "actions": [
            {"name": "ld", "type": "load",
             "source": {"type": "sql", "sql": "SELECT 1 AS id"}, "target": "v"},
            {"name": "wr", "type": "write", "source": "v",
             "write_target": {"type": "streaming_table", "catalog": "m",
                              "schema": "s", "table": "t",
                              "table_properties": {"lhp.autoOptimize.maxFiles": "4"}}},
        ],
    })
    consumer = load_flowgroup({
        "pipeline": "b", "flowgroup": "r",
        "actions": [
            {"name": "tx", "type": "transform", "transform_type": "sql",
             "sql": "SELECT 1 AS x, 'docs: stream(m.s.t)' AS note "
                    "/* legacy: SELECT * FROM stream(m.s.t) */",
             "target": "v2"},
            {"name": "wr", "type": "write", "source": "v2",
             "write_target": {"type": "materialized_view", "catalog": "m",
                              "schema": "g", "table": "u"}},
        ],
    })
    assert validate_streaming_compaction([writer, consumer]) == []


def test_new_store_delta_override_fails_loudly_without_delta(spark, tmp_path, monkeypatch):
    """An explicit LHP_STORE=delta the environment cannot honor must raise,
    not silently hand back parquet semantics (review finding)."""
    import pytest as _pytest

    from lakehouse_plumber_spark import tables as T

    monkeypatch.setenv("LHP_STORE", "delta")
    if T.HAVE_DELTA:
        _pytest.skip("delta-spark installed; override is honored")
    with _pytest.raises(RuntimeError, match="LHP_STORE=delta"):
        T.new_store(spark, str(tmp_path))
    monkeypatch.setenv("LHP_STORE", "parquet")
    assert type(T.new_store(spark, str(tmp_path))) is T.ParquetTableStore


def test_runner_backfill_rewrites_only_target_partitions(spark, tmp_path):
    """PipelineRunner.backfill: non-targeted partitions keep their files on
    disk byte-for-byte; targeted ones are rewritten; result == full run."""
    import glob
    import os

    from lakehouse_plumber_spark import PipelineRunner, load_flowgroup
    from lakehouse_plumber_spark.tables import ParquetTableStore

    store = ParquetTableStore(spark, str(tmp_path / "wh"))
    runner = PipelineRunner(spark, store=store)

    def fg(feed):
        return load_flowgroup({
            "pipeline": "p", "flowgroup": "bf",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql", "sql": feed}},
                {"name": "mv", "type": "write", "source": "v",
                 "write_target": {"type": "materialized_view", "database": "m.g",
                                  "table": "t",
                                  "sql": "SELECT d, CAST(COUNT(*) AS BIGINT) AS n "
                                         "FROM v GROUP BY d",
                                  "partition_columns": ["d"]}},
            ],
        })

    full = "SELECT CAST(id % 4 AS STRING) AS d, id FROM range(400)"
    bad = full + " WHERE NOT (id % 4 = 1 AND id < 200)"  # partition d=1 undercounted
    runner.run(fg(bad))
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "wh/m/g/t/d=*/*.parquet"))
    }
    # partition-dir discovery re-infers d as int: normalize keys
    got_bad = {str(r.d): r.n for r in store.read("m.g.t").collect()}
    assert got_bad["1"] == 50 and got_bad["0"] == 100

    ctx = runner.backfill(fg(full), "d", ["1"])
    after_rows = {str(r.d): r.n for r in ctx.resolve_view("m.g.t").collect()}
    assert after_rows == {"0": 100, "1": 100, "2": 100, "3": 100}
    # untouched partitions: same files, same mtimes
    for p, mt in before.items():
        if "/d=1/" not in p:
            assert os.path.exists(p) and os.path.getmtime(p) == mt
    # idempotent: running the same backfill again changes nothing
    again = runner.backfill(fg(full), "d", ["1"])
    assert {str(r.d): r.n for r in again.resolve_view("m.g.t").collect()} == after_rows
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition value"):
        runner.backfill(fg(full), "d", [])


def test_backfill_logs_cdf_changes_for_rewritten_partitions(spark, tmp_path):
    """A CDF-enabled MV backfill must record the rewritten partitions' rows
    in the change feed, like the full-overwrite branch does."""
    from lakehouse_plumber_spark import PipelineRunner, load_flowgroup
    from lakehouse_plumber_spark.tables import ParquetTableStore

    store = ParquetTableStore(spark, str(tmp_path / "wh"))
    runner = PipelineRunner(spark, store=store)

    def fg():
        return load_flowgroup({
            "pipeline": "p", "flowgroup": "bfc",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql",
                            "sql": "SELECT CAST(id % 2 AS STRING) AS d, id FROM range(40)"}},
                {"name": "mv", "type": "write", "source": "v",
                 "write_target": {"type": "materialized_view", "database": "m.g",
                                  "table": "t",
                                  "sql": "SELECT d, CAST(COUNT(*) AS BIGINT) AS n "
                                         "FROM v GROUP BY d",
                                  "partition_columns": ["d"],
                                  "table_properties":
                                      {"delta.enableChangeDataFeed": "true"}}},
            ],
        })

    runner.run(fg())
    before = store.read_changes("m.g.t").count()
    runner.backfill(fg(), "d", ["1"])
    changes = store.read_changes("m.g.t")
    after = changes.count()
    # the backfill appended exactly the rewritten partition's rows as inserts
    assert after == before + 1
    last = changes.orderBy("_commit_version", ascending=False).first()
    assert last["_change_type"] == "insert" and str(last["d"]) == "1"


def test_writer_lock_contract(spark, tmp_path):
    """r14 (VERDICT r13 item #4): single-writer mutex for persisted-index
    update sequences — contention refuses loudly, an exception inside the
    critical section still releases, and a same-host stale lock (dead pid)
    is stolen instead of wedging the pipeline forever."""
    import json
    import os

    import pytest

    from lakehouse_plumber_spark.tables import (
        ConcurrentWriterError,
        ParquetTableStore,
    )

    store = ParquetTableStore(spark, str(tmp_path / "s"))

    # plain acquire/release
    with store.writer_lock("c.s.idx", owner="a"):
        assert os.path.exists(store._lock_path("c.s.idx"))
        # second writer refuses while held, naming the holder
        with pytest.raises(ConcurrentWriterError, match="owner='a'"):
            with store.writer_lock("c.s.idx", owner="b"):
                pass
    assert not os.path.exists(store._lock_path("c.s.idx"))

    # an exception in the critical section releases the lock
    with pytest.raises(RuntimeError, match="boom"):
        with store.writer_lock("c.s.idx"):
            raise RuntimeError("boom")
    assert not os.path.exists(store._lock_path("c.s.idx"))

    # stale same-host lock (dead pid) is stolen; the steal happens once
    lp = store._lock_path("c.s.idx")
    os.makedirs(os.path.dirname(lp), exist_ok=True)
    with open(lp, "w") as f:
        json.dump({"pid": 2**22 + 12345, "host": __import__("socket").gethostname(),
                   "owner": "crashed", "ts": 0}, f)
    with store.writer_lock("c.s.idx", owner="recoverer"):
        with open(lp) as f:
            assert json.load(f)["owner"] == "recoverer"

    # a foreign-host lock is NEVER stolen (no liveness signal)
    with open(lp, "w") as f:
        json.dump({"pid": 1, "host": "some-other-node", "owner": "remote"}, f)
    with pytest.raises(ConcurrentWriterError, match="some-other-node"):
        with store.writer_lock("c.s.idx"):
            pass
    os.remove(lp)

    # locks are per-table: another table is unaffected
    with store.writer_lock("c.s.idx"):
        with store.writer_lock("c.s.other"):
            pass


def test_writer_lock_steal_race_loser_refuses(spark, tmp_path, monkeypatch):
    """The stale-lock steal is an atomic rename: a stealer that LOSES the
    rename race must fall back to the normal create path and refuse — it
    must never unlink the winner's fresh lock (the unlink-based steal bug:
    both racers delete-and-recreate, the slower one deletes the faster
    one's NEW lock, and two writers proceed concurrently)."""
    import json
    import os
    import socket

    import pytest

    from lakehouse_plumber_spark.tables import (
        ConcurrentWriterError,
        ParquetTableStore,
    )

    store = ParquetTableStore(spark, str(tmp_path / "s"))
    lp = store._lock_path("c.r.idx")
    os.makedirs(os.path.dirname(lp), exist_ok=True)
    with open(lp, "w") as f:
        json.dump({"pid": 2**22 + 54321, "host": socket.gethostname(),
                   "owner": "crashed", "ts": 0}, f)

    removed = []
    real_remove = os.remove

    def lose_rename(src, dst):
        # simulate the other stealer winning: it renamed the stale lock
        # away and immediately recreated its own fresh lock at `src`
        raise FileNotFoundError(src)

    def tracking_remove(path):
        removed.append(path)
        real_remove(path)

    monkeypatch.setattr(os, "rename", lose_rename)
    monkeypatch.setattr(os, "remove", tracking_remove)
    with pytest.raises(ConcurrentWriterError, match="owner='crashed'"):
        with store.writer_lock("c.r.idx", owner="loser"):
            pass
    monkeypatch.undo()
    # the loser never unlinked the lock path itself
    assert lp not in removed
    assert os.path.exists(lp)
    os.remove(lp)


def test_compact_shares_the_writer_lock(spark, tmp_path):
    """compact() rewrites the table through a shadow swap; doing that to a
    persisted incremental index while a locked operator appends would drop
    the in-flight append from the rewritten table.  It therefore takes the
    same per-table writer lock: refused while held, fine after release."""
    import pytest

    from lakehouse_plumber_spark.tables import (
        ConcurrentWriterError,
        ParquetTableStore,
    )

    store = ParquetTableStore(spark, str(tmp_path / "s"))
    store.overwrite("c.k.idx", spark.range(100).selectExpr("id", "id * 2 AS v"))
    with store.writer_lock("c.k.idx", owner="appender"):
        with pytest.raises(ConcurrentWriterError, match="owner='appender'"):
            store.compact("c.k.idx")
    res = store.compact("c.k.idx")
    assert res["files_after"] >= 1
    assert store.read("c.k.idx").count() == 100


def test_empty_partitioned_overwrite_then_append_restores_layout(spark, tmp_path):
    """A zero-row partitioned overwrite leaves the fallback's unpartitioned
    schema-bearing placeholder (an empty partitioned write emits no parquet
    footer at all).  The first real partitioned append must REPLACE that
    placeholder instead of laying partition dirs beside a root data file —
    a mixed layout current Spark happens to read but other readers refuse.
    A non-empty unpartitioned table refuses the partitioned append loudly."""
    import os

    import pytest

    from lakehouse_plumber_spark.tables import ParquetTableStore

    store = ParquetTableStore(spark, str(tmp_path / "s"))
    empty = spark.range(0).selectExpr("id", "cast(id % 4 AS int) AS __b")
    store.overwrite("l.p.idx", empty, partition_columns=["__b"])
    assert store._partition_columns_on_disk("l.p.idx") == []
    rows = spark.range(100).selectExpr("id", "cast(id % 4 AS int) AS __b")
    store.append("l.p.idx", rows, partition_columns=["__b"])
    # clean partitioned layout: dirs present, no root-level data file
    assert store._partition_columns_on_disk("l.p.idx") == ["__b"]
    root_files = [
        f for f in os.listdir(store.path("l.p.idx")) if f.endswith(".parquet")
    ]
    assert root_files == []
    assert store.read("l.p.idx").count() == 100
    # partition pruning still works on the restored layout
    plan = store.read("l.p.idx").where("__b = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__b" in plan

    # non-empty unpartitioned table + partitioned append -> loud refusal
    store.overwrite("l.p.flat", spark.range(10).selectExpr("id", "cast(1 AS int) AS __b"))
    with pytest.raises(ValueError, match="mixed root-file"):
        store.append("l.p.flat", rows, partition_columns=["__b"])


def test_interrupted_overwrite_swap_heals_on_access(spark, tmp_path):
    """overwrite commits via two renames (target->backup, shadow->target);
    a crash in between leaves NO table dir, and exists()=False would make
    an incremental caller silently recreate an empty index over stranded
    history.  The next access completes the swap from the marker-bearing
    shadow (written fully before the first rename ever happens); with no
    completed shadow, the backup is restored instead."""
    import os
    import shutil as sh

    from lakehouse_plumber_spark.tables import ParquetTableStore

    store = ParquetTableStore(spark, str(tmp_path / "s"))
    store.overwrite("h.e.t", spark.range(50).selectExpr("id"))
    target = store.path("h.e.t")
    parent = os.path.dirname(target)

    # simulate the crash window: new data sits in a completed shadow
    # (_SUCCESS present), old data was renamed to backup, target gone
    sh.copytree(target, os.path.join(parent, "t__swap_deadbeef"))
    os.rename(target, os.path.join(parent, "t__old_deadbeef"))
    assert store.exists("h.e.t")  # heal ran inside exists()
    assert store.read("h.e.t").count() == 50
    assert not os.path.isdir(os.path.join(parent, "t__old_deadbeef"))
    assert not os.path.isdir(os.path.join(parent, "t__swap_deadbeef"))

    # no completed shadow (crash before the shadow's job finished can't
    # reach this state, but an operator may have deleted it): restore the
    # backup so the OLD data survives
    os.rename(target, os.path.join(parent, "t__old_cafe"))
    assert store.exists("h.e.t")
    assert store.read("h.e.t").count() == 50


def test_set_meta_crash_mid_write_keeps_previous_value(spark, tmp_path, monkeypatch):
    """The sidecar holds the CDC bucket count and the replay guard's
    last-epoch markers; a crash while rewriting it must leave the previous
    JSON readable, not a torn file that makes every get_meta raise."""
    import json
    import os

    st = _store(spark, tmp_path)
    st.set_meta("m.s.t", "cdc_buckets", 7)

    def torn_dump(obj, f):
        f.write('{"cdc_buckets": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        st.set_meta("m.s.t", "last_epoch:x", 3)
    monkeypatch.undo()
    assert st.get_meta("m.s.t", "cdc_buckets") == 7
    assert os.listdir(st._cdf_dir("m.s.t")) == ["_meta.json"]


@pytest.mark.parametrize("site", ["append_flow", "temp_table"])
def test_streaming_append_replay_does_not_duplicate(spark, runner, tmp_path, site):
    """foreachBatch is at-least-once: wiping a flow's checkpoint while
    keeping its incarnation marker replays the same epoch ids, and the
    epoch guard must skip them instead of appending the rows again."""
    import os
    import shutil

    from lakehouse_plumber_spark.parsers import load_flowgroup

    land = tmp_path / "land"
    spark.range(5).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(str(land))
    load = {"name": "ld", "type": "load", "readMode": "stream", "target": "v_raw",
            "source": {"type": "cloudfiles", "path": str(land), "format": "parquet",
                       "schema": "id BIGINT, v BIGINT"}}
    if site == "append_flow":
        actions = [load, {"name": "wr", "type": "write", "source": "v_raw", "readMode": "stream",
                          "write_target": {"type": "streaming_table", "database": "m.s",
                                           "table": "ev", "mode": "standard"}}]
        table, ckpt_parts = "m.s.ev", ("flow", "wr")
    else:
        actions = [load,
                   {"name": "tmp", "type": "transform", "transform_type": "temp_table",
                    "source": "v_raw", "target": "v_tmp"},
                   {"name": "wr", "type": "write", "source": "v_tmp",
                    "write_target": {"type": "materialized_view", "database": "m.s",
                                     "table": "ev"}}]
        table, ckpt_parts = "_tmp.rp.v_tmp", ("tmp", "tmp")
    spec = {"pipeline": "p", "flowgroup": "rp", "actions": actions}

    runner.run(load_flowgroup(spec))
    assert runner.store.read(table).count() == 5

    ckpt = runner.store.checkpoint_dir("p", "rp", *ckpt_parts)
    for entry in os.listdir(ckpt):
        if entry != ".lhp_incarnation":
            p = os.path.join(ckpt, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    ctx = runner.run(load_flowgroup(spec))
    assert runner.store.read(table).count() == 5  # not 10
    assert runner.store.read("m.s.ev").count() == 5
    skipped = [e["details"] for e in ctx.event_log if e["event"] == "epoch_skipped"]
    assert skipped and {d["table"] for d in skipped} == {table}
