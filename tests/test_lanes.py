"""run_many lanes: a stage's independent flowgroups run at the same time.

`dag.stage_lanes` is pure and is tested without Spark; the runner tests
check that lanes really overlap, that a failing lane stops the run after
its running siblings finish, that lane jobs carry the caller's job group,
and that the event log keeps flowgroup order.
"""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from lakehouse_plumber_spark.dag import cross_flowgroup_deps, execution_stages, stage_lanes
from lakehouse_plumber_spark.parsers import load_flowgroup
from lakehouse_plumber_spark.runner import PipelineRunner
from lakehouse_plumber_spark.tables import ParquetTableStore


def _load(view: str, **extra) -> dict:
    return {"name": "ld", "type": "load", "target": view,
            "source": {"type": "sql", "sql": "SELECT 1 AS id, 'a b c' AS text"}, **extra}


def _mv(view: str, table: str, **target) -> dict:
    return {"name": "w", "type": "write", "source": view,
            "write_target": {"type": "materialized_view", "catalog": "main",
                             "schema": "s", "table": table, **target}}


def _sink(view: str, **target) -> dict:
    return {"name": "w", "type": "write", "source": view,
            "write_target": {"type": "sink", "sink_type": "delta", **target}}


def _fg(name: str, actions: list[dict]):
    return load_flowgroup({"pipeline": "p", "flowgroup": name, "actions": actions})


def _lanes(fgs) -> list[list[str]]:
    return [[fgs[i].flowgroup for i in lane] for lane in stage_lanes(fgs, list(range(len(fgs))))]


class TestStageLanes:
    def test_independent_flowgroups_get_one_lane_each(self):
        fgs = [_fg(f"f{i}", [_load(f"v{i}"), _mv(f"v{i}", f"t{i}")]) for i in range(3)]
        assert _lanes(fgs) == [["f0"], ["f1"], ["f2"]]

    def test_shared_view_name(self):
        fgs = [_fg("a", [_load("v_batch"), _mv("v_batch", "ta")]),
               _fg("b", [_load("v_other"), _mv("v_other", "tb")]),
               _fg("c", [_load("v_batch"), _mv("v_batch", "tc")])]
        assert _lanes(fgs) == [["a", "c"], ["b"]]

    def test_fan_in_to_one_table(self):
        def st(view: str, create: bool) -> dict:
            return {"name": "w", "type": "write", "source": view,
                    "write_target": {"type": "streaming_table", "catalog": "main", "schema": "s",
                                     "table": "events", "create_table": create}}

        fgs = [_fg("a", [_load("va"), st("va", True)]),
               _fg("b", [_load("vb"), _mv("vb", "tb")]),
               _fg("c", [_load("vc"), st("vc", False)])]
        assert _lanes(fgs) == [["a", "c"], ["b"]]

    def test_shared_dlq(self):
        def quarantined(v: str, dlq: str) -> list[dict]:
            return [_load(v), {
                "name": "q", "type": "transform", "transform_type": "data_quality",
                "mode": "quarantine", "source": v, "target": f"{v}_ok",
                "quarantine": {"dlq_table": dlq},
                "expectations_inline": [{"name": "id", "constraint": "id IS NOT NULL",
                                         "type": "expect_or_drop"}],
            }, _mv(f"{v}_ok", f"t_{v}")]

        fgs = [_fg("a", quarantined("va", "main.dlq.rows")),
               _fg("b", quarantined("vb", "main.dlq.other")),
               _fg("c", quarantined("vc", "main.dlq.rows"))]
        assert _lanes(fgs) == [["a", "c"], ["b"]]

    def test_shared_dedup_index(self):
        def dedup(v: str, index: str) -> list[dict]:
            return [_load(v), {
                "name": "d", "type": "transform", "transform_type": "dedup",
                "source": v, "target": f"{v}_pairs",
                "dedup": {"method": "incremental", "index_table": index,
                          "grams_table": f"{index}_grams"},
            }, _mv(f"{v}_pairs", f"t_{v}")]

        fgs = [_fg("a", dedup("va", "main.dedup.bands")),
               _fg("b", dedup("vb", "main.dedup.bands")),
               _fg("c", dedup("vc", "main.dedup.other"))]
        assert _lanes(fgs) == [["a", "b"], ["c"]]

    def test_shared_test_results_table(self):
        def tested(name: str, reporting=None):
            return load_flowgroup({
                "pipeline": "p", "flowgroup": name, "test_reporting": reporting,
                "actions": [_load(f"v_{name}"), {
                    "name": "t", "type": "test", "test_type": "uniqueness",
                    "source": {"source": f"v_{name}", "columns": ["id"]}}]})

        fgs = [tested("a"), tested("b", {"config": {"result_table": "main.audit.b"}}),
               tested("c")]
        # a and c publish to the project default's table; b to its own
        lanes = stage_lanes(fgs, [0, 1, 2], lambda fg: fg.test_reporting or {"config": {}})
        assert [[fgs[i].flowgroup for i in lane] for lane in lanes] == [["a", "c"], ["b"]]
        # with no project default, a and c publish nothing
        assert _lanes(fgs) == [["a"], ["b"], ["c"]]

    def test_shared_sink_table(self):
        """Two delta sinks appending to one `options.tableName` share a lane,
        though neither names it in `table`, so `cross_flowgroup_deps` leaves
        them in one stage."""
        fgs = [_fg("a", [_load("va"), _sink("va", options={"tableName": "main.ext.events"})]),
               _fg("b", [_load("vb"), _sink("vb", options={"tableName": "main.ext.other"})]),
               _fg("c", [_load("vc"), _sink("vc", options={"tableName": "main.ext.events"})])]
        assert execution_stages(cross_flowgroup_deps(fgs, ".")[0], 3) == [[0, 1, 2]]
        assert _lanes(fgs) == [["a", "c"], ["b"]]

    def test_shared_sink_path(self):
        """`path`, `options.path` and `./`-spelled paths name one directory."""
        fgs = [_fg("a", [_load("va"), _sink("va", path="out/events")]),
               _fg("b", [_load("vb"), _sink("vb", options={"path": "./out/events"})]),
               _fg("c", [_load("vc"), _sink("vc", path="out/other")])]
        assert _lanes(fgs) == [["a", "b"], ["c"]]

    def test_load_of_a_path_another_flowgroup_writes(self):
        """A kafka load of the directory a simulated kafka sink writes shares
        its lane; two cloudfiles loads of one landing directory only read
        it and run apart."""
        kafka_in = {"name": "ld", "type": "load", "target": "vk", "readMode": "batch",
                    "source": {"type": "kafka", "bootstrap_servers": "x:9092",
                               "subscribe": "t", "simulate_from": "sim/topic"}}

        def landing(view: str) -> dict:
            return {"name": "ld", "type": "load", "target": view, "readMode": "stream",
                    "source": {"type": "cloudfiles", "path": "landing/events",
                               "format": "parquet", "schema": "id BIGINT"}}

        fgs = [_fg("a", [_load("va"), _sink("va", sink_type="kafka", topic="t",
                                            bootstrap_servers="x:9092",
                                            options={"simulate_path": "sim/topic"})]),
               _fg("b", [kafka_in, _mv("vk", "tb")]),
               _fg("c", [landing("vc"), _mv("vc", "tc")]),
               _fg("d", [landing("vd"), _mv("vd", "td")])]
        assert _lanes(fgs) == [["a", "b"], ["c"], ["d"]]

    def test_custom_sinks_share_the_data_source_registry(self):
        class Fmt:
            @classmethod
            def name(cls):
                return "fmt"

        fgs = [_fg(n, [_load(f"v{n}"), _sink(f"v{n}", sink_type="custom",
                                             options={"sink_class_obj": Fmt})])
               for n in ("a", "b")] + [_fg("c", [_load("vc"), _mv("vc", "tc")])]
        assert _lanes(fgs) == [["a", "b"], ["c"]]

    def test_delta_load_of_a_table_written_in_its_stage(self):
        """b and c both write main.s.t; d's delta load of it is staged after
        c, its last writer. b also reads main.s.x, which a writes, so b runs
        in d's stage: d's read of main.s.t puts the two in one lane. Two
        delta loads of one table only read it and run apart."""
        def delta_load(view: str, table: str) -> dict:
            return {"name": "ld", "type": "load", "target": view,
                    "source": {"type": "delta", "catalog": "main", "database": "s",
                               "table": table}}

        fgs = [_fg("a", [_load("va"), _mv("va", "x")]),
               _fg("b", [delta_load("vb", "x"), _mv("vb", "t")]),
               _fg("c", [_load("vc"), _mv("vc", "t")]),
               _fg("d", [delta_load("vd", "t"), _mv("vd", "td")]),
               _fg("e", [delta_load("ve", "t"), _mv("ve", "te")])]
        stages = execution_stages(cross_flowgroup_deps(fgs, ".")[0], len(fgs))
        assert stages == [[0, 2], [1, 3, 4]]
        lanes = stage_lanes(fgs, stages[1])
        assert [[fgs[i].flowgroup for i in lane] for lane in lanes] == [["b", "d", "e"]]
        assert [[fgs[i].flowgroup for i in lane] for lane in stage_lanes(fgs, [3, 4])] == [
            ["d"], ["e"]]

    def test_spark_conf_flowgroup_makes_the_stage_one_lane(self):
        fgs = [_fg("a", [_load("va"), _mv("va", "ta")]),
               _fg("b", [_load("vb"), _mv("vb", "tb", spark_conf={"spark.sql.shuffle.partitions": 3})]),
               _fg("c", [_load("vc"), _mv("vc", "tc")])]
        assert _lanes(fgs) == [["a", "b", "c"]]


def _py_fg(name: str, body, table: str, view: str = ""):
    """A flowgroup whose python load calls `body()` while its plan is built,
    registers it as `view` (default v_<name>) and writes spark.range(3) to
    main.s.<table>."""
    view = view or f"v_{name}"

    def load(spark, params):
        body()
        return spark.range(3)

    return load_flowgroup({"pipeline": "p", "flowgroup": name, "actions": [
        {"name": "ld", "type": "load", "target": view, "source": {"type": "python"},
         "callable_fn": load},
        _mv(view, table),
    ]})


def _runner(spark, root) -> PipelineRunner:
    return PipelineRunner(spark, store=ParquetTableStore(spark=spark, root=str(root)))


def test_independent_flowgroups_overlap(spark, tmp_path):
    """Both loads wait on one two-party barrier: run one after another, the
    first would time out and break it."""
    barrier = threading.Barrier(2, timeout=60)
    fgs = [_py_fg("a", barrier.wait, "ta"), _py_fg("b", barrier.wait, "tb")]
    runner = _runner(spark, tmp_path)
    ctxs = runner.run_many(fgs)
    assert [c.resolve_view(t).count() for c, t in zip(ctxs, ("main.s.ta", "main.s.tb"))] == [3, 3]
    [stage] = [e["details"] for e in runner.event_log if e["event"] == "stage_completed"]
    assert stage["lanes"] == [["p/a"], ["p/b"]] and stage["seconds"] > 0


def test_lanes_run_without_pinned_threads(spark, tmp_path, monkeypatch):
    """With PYSPARK_PIN_THREAD=false `inheritable_thread_target(session)`
    returns the session itself; lanes then run unwrapped."""
    import lakehouse_plumber_spark.runner as runner_mod

    monkeypatch.setattr(runner_mod, "inheritable_thread_target", lambda f=None: f)
    barrier = threading.Barrier(2, timeout=60)
    fgs = [_py_fg("a", barrier.wait, "ta"), _py_fg("b", barrier.wait, "tb")]
    ctxs = _runner(spark, tmp_path).run_many(fgs)
    assert [c.resolve_view(t).count() for c, t in zip(ctxs, ("main.s.ta", "main.s.tb"))] == [3, 3]


def test_one_lane_stage_runs_on_the_calling_thread(spark, tmp_path):
    """Two flowgroups sharing a view are one lane: both run inline."""
    threads = []
    fgs = [_py_fg(n, lambda: threads.append(threading.current_thread()), f"t{n}", "v_shared")
           for n in ("a", "b")]
    runner = _runner(spark, tmp_path)
    runner.run_many(fgs)
    assert threads == [threading.current_thread()] * 2
    [stage] = [e["details"] for e in runner.event_log if e["event"] == "stage_completed"]
    assert stage["lanes"] == [["p/a", "p/b"]]


def test_failing_lane_lets_sibling_finish_and_stops_later_stages(spark, tmp_path):
    started = threading.Event()

    def fail():
        started.wait(60)  # the sibling lane is running
        raise ValueError("lane a failed")

    def slow():
        started.set()
        time.sleep(0.5)

    reader = load_flowgroup({"pipeline": "p", "flowgroup": "c", "actions": [
        {"name": "agg", "type": "transform", "transform_type": "sql", "source": "main.s.tb",
         "target": "v_c", "sql": "SELECT COUNT(*) AS n FROM main.s.tb"},
        _mv("v_c", "tc"),
    ]})
    runner = _runner(spark, tmp_path)
    with pytest.raises(ValueError, match="lane a failed"):
        runner.run_many([_py_fg("a", fail, "ta"), _py_fg("b", slow, "tb"), reader])
    assert runner.store.read("main.s.tb").count() == 3
    assert not runner.store.exists("main.s.ta") and not runner.store.exists("main.s.tc")
    flowgroups = {e["flowgroup"] for e in runner.event_log}
    assert "b" in flowgroups and flowgroups <= {"a", "b"}  # no stage_completed, no c


def test_lowest_index_failure_is_raised(spark, tmp_path):
    both = threading.Barrier(2, timeout=60)

    def fail(msg):
        def body():
            both.wait()
            raise ValueError(msg)
        return body

    runner = _runner(spark, tmp_path)
    with pytest.raises(ValueError, match="first"):
        runner.run_many([_py_fg("a", fail("first"), "ta"), _py_fg("b", fail("second"), "tb")])


def test_lane_jobs_carry_the_callers_job_group(spark, tmp_path):
    """The jobs of both lanes count under the caller's job group: as many
    as the two flowgroups start when each runs alone."""
    sc = spark.sparkContext

    def jobs_in_group(group: str, fgs, root) -> int:
        sc.setJobGroup(group, group)
        try:
            _runner(spark, root).run_many(fgs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def pair():
        return [_py_fg("a", lambda: None, "ta"), _py_fg("b", lambda: None, "tb")]

    alone = [jobs_in_group(f"lanes-alone-{i}", [fg], tmp_path / f"alone{i}")
             for i, fg in enumerate(pair())]
    assert min(alone) > 0
    assert jobs_in_group("lanes-both", pair(), tmp_path / "both") == sum(alone)


def test_event_log_keeps_flowgroup_order(spark, tmp_path):
    """Lane a finishes last, yet its events come first."""
    b_done = threading.Event()
    fgs = [_py_fg("a", lambda: b_done.wait(60), "ta"), _py_fg("b", lambda: None, "tb")]
    runner = _runner(spark, tmp_path)
    runner.run = _signal_after(runner.run, "b", b_done)
    runner.run_many(fgs)
    order = [e["flowgroup"] or e["event"] for e in runner.event_log]
    assert order == sorted(order[:-1], key="ab".index) + ["stage_completed"]
    assert order.index("b") > order.index("a")


def test_many_lanes_under_fast_thread_switching(spark, tmp_path):
    """More lanes than cores and a short switch interval: every flowgroup
    runs once, and the event log, appended one event at a time from every
    lane, comes out in flowgroup order with each run's events in order."""
    fgs = [_fg(f"f{i:02d}", [_load(f"v{i}"), _mv(f"v{i}", f"t{i}")]) for i in range(32)]
    runner = _runner(spark, tmp_path)

    def fake_run(fg, **kw):
        for k in range(20):
            runner.event_log.append({"pipeline": fg.pipeline, "flowgroup": fg.flowgroup,
                                     "run_id": "", "action": str(k), "event": "e"})
        return SimpleNamespace(flowgroup=fg.flowgroup, pending_compactions={})

    runner.run = fake_run
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = runner.run_many(fgs)
    finally:
        sys.setswitchinterval(interval)
    assert [c.flowgroup for c in out] == [fg.flowgroup for fg in fgs]
    *events, stage = runner.event_log
    assert [(e["flowgroup"], e["action"]) for e in events] == [
        (fg.flowgroup, str(k)) for fg in fgs for k in range(20)]
    assert len(stage["details"]["lanes"]) == 32


def _signal_after(run, flowgroup: str, done: threading.Event):
    def wrapped(fg, **kw):
        ctx = run(fg, **kw)
        if fg.flowgroup == flowgroup:
            done.set()
        return ctx
    return wrapped
