"""PipelineRunner: execute a FlowGroup (or many) against a SparkSession.

The engine's equivalent of the DLT runtime the reference compiles for:
topo-sorts the action DAG (dag.py ≙ reference dependency_resolver), executes
each action via the operator registry, tracks named views, enforces
expectations, and emits an event log (≙ DLT event log flow_progress rows).

Cross-pipeline orchestration (reference `lhp deps` / job stages,
src/lhp/core/jobs/job_generator.py:60-108) is `run_many`: flowgroups are
staged by table-level dependencies and executed stage by stage. Inside a
stage, flowgroups that share a view, a written table or path, a user-module
name or the data-source registry, or where one reads a table or path the
other writes (`dag.stage_lanes`), form one lane and run one after another;
different lanes run at the same time on the one SparkSession. A stage
holding a flowgroup with a per-table `spark_conf` runs as one lane. When a
lane fails, the lanes already running finish, the error of the lowest-index
failing flowgroup is raised, and no later stage starts.
"""

from __future__ import annotations

import contextlib
import sys
import time
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from lakehouse_plumber_spark.context import BuildContext
from lakehouse_plumber_spark.dag import topo_sort, validate_flowgroup_graph
from lakehouse_plumber_spark.expectations import check_failures
from lakehouse_plumber_spark.models import FlowGroup
from lakehouse_plumber_spark.operators import REGISTRY
from lakehouse_plumber_spark.tables import ParquetTableStore, new_store

# a bound on lane threads per core, as a safety limit on thread count; a
# lane's thread mostly waits on its Spark jobs. The value is not tuned.
LANES_PER_CORE = 2


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        store: Optional[ParquetTableStore] = None,
        base_dir: str = ".",
        project_config=None,
    ):
        self.spark = spark
        self.store = store or new_store(spark)
        self.base_dir = base_dir
        self.event_log: list[dict] = []
        # lhp.yaml project config (models.ProjectConfig): supplies the
        # project-wide audit-column vocabulary and the test_reporting
        # default a flowgroup without its own block falls back to
        self.project_config = project_config
        self.metadata_columns: dict = (
            project_config.metadata_columns() if project_config is not None else {}
        )

    def run(
        self,
        fg: FlowGroup,
        conf: Optional[dict] = None,
        defer_compactions: bool = False,
    ) -> BuildContext:
        """Execute one flowgroup; returns the BuildContext with views/event log."""
        validate_flowgroup_graph(fg.actions)
        ctx = BuildContext(
            spark=self.spark,
            store=self.store,
            flowgroup=fg,
            base_dir=self.base_dir,
            conf=conf or {},
            metadata_columns=self.metadata_columns,
            test_reporting_default=(
                self.project_config.test_reporting if self.project_config else None
            ),
        )
        from lakehouse_plumber_spark.reporting import publish_test_results

        try:
            for action in topo_sort(fg.actions):
                t0 = time.time()
                key = (action.type.value, action.sub_type)
                executor = REGISTRY.get(key)
                if executor is None:
                    raise ValueError(f"no operator registered for {key}")
                df = executor(ctx, action)
                if df is not None and action.target:
                    ctx.register(action.target, df)
                ctx.log(action.name, "action_completed", seconds=round(time.time() - t0, 3))

            # batch fail-expectation enforcement: force pending observed plans
            for name, obs, fail_exps in ctx.pending_checks:
                # observation requires the plan to have executed; writes usually did.
                metrics = check_failures(obs, fail_exps)
                ctx.log(name, "expectations_checked", **{k: v for k, v in metrics.items()})

            # auto-compaction deferred to after ALL actions: compacting
            # mid-run would delete the files behind already-registered
            # DataFrames (operators/write.py:run_pending_compactions).
            # run_many defers to its own between-stages point instead, where
            # sibling writers have finished and no reader has started.
            if ctx.pending_compactions and not defer_compactions:
                from lakehouse_plumber_spark.operators.write import run_pending_compactions

                run_pending_compactions([ctx])
        except BaseException:
            # the reference hook publishes at EVERY terminal state incl.
            # FAILED (hook.py.j2:36-44) — collected results must survive a
            # failing test action
            publish_test_results(ctx, "FAILED", reporting_cfg=self._reporting_cfg(fg))
            self.event_log.extend(ctx.event_log)
            raise
        publish_test_results(ctx, "COMPLETED", reporting_cfg=self._reporting_cfg(fg))
        self.event_log.extend(ctx.event_log)
        return ctx

    def backfill(
        self,
        fg: FlowGroup,
        partition_col: str,
        values: list,
        conf: Optional[dict] = None,
    ) -> BuildContext:
        """Partition-scoped re-run ("backfill these days"): execute the
        flowgroup, but every materialized_view write whose target is
        partitioned on `partition_col` is restricted to `values` and
        committed via dynamic partition overwrite — untouched partitions
        keep their files, so a backfill costs O(affected partitions), not
        O(table), and re-running it is idempotent (same values -> same
        files).  Because the restriction is applied as a filter on the MV
        output, Catalyst pushes it through the plan and the SOURCE scans
        prune too.  Writes not partitioned on `partition_col` run
        unchanged (full refresh) — backfill scoping is only sound where
        the partition boundary exists.
        """
        if not values:
            raise ValueError("backfill needs at least one partition value")
        c = dict(conf or {})
        c["__backfill__"] = (partition_col, list(values))
        return self.run(fg, conf=c)

    def _reporting_cfg(self, fg: FlowGroup):
        """Flowgroup test_reporting block, falling back to the project's:
        what run() publishes with and what run_many's lanes key on."""
        if fg.test_reporting is not None:
            return fg.test_reporting
        return self.project_config.test_reporting if self.project_config else None

    def run_many(
        self,
        flowgroups: list[FlowGroup],
        conf: Optional[dict] = None,
    ) -> list[BuildContext]:
        """Run multiple flowgroups in dependency-stage order.

        Stage graph: a flowgroup depends on another when it reads a table the
        other writes (reference DependencyAnalysisService semantics, driven
        here by write-target/view names plus SQL/python ref extraction).
        `conf` is passed to every flowgroup's run (the CLI's --backfill
        rides here).

        Each stage is split into lanes (`dag.stage_lanes`): flowgroups that
        share a view name, a written table (target, sink table, DLQ, dedup
        index, test results), a written path, a user-module name or the
        data-source registry, or where one reads a table or path the other
        writes, are one lane and run serially in index order, and a stage
        holding a `spark_conf` flowgroup is one lane. Lanes run at the same time on threads that inherit the
        caller's job group and local properties; a one-lane stage runs on
        the calling thread. When a lane raises, the lanes already running
        finish, lanes not yet started are skipped, the error of the
        lowest-index failing flowgroup is raised and no later stage starts.
        The event log keeps flowgroup order, and each finished stage adds a
        `stage_completed` event with its flowgroups, lanes and wall seconds.
        """
        # one shared edge-builder AND stage computation with the CLI's
        # dag/deps/jobs commands (dag.cross_flowgroup_deps +
        # dag.execution_stages) — scheduling, reporting, and the exported
        # job plan must agree
        from lakehouse_plumber_spark.dag import (
            cross_flowgroup_deps,
            execution_stages,
            stage_lanes,
        )

        deps, warnings = cross_flowgroup_deps(flowgroups, self.base_dir)
        for w in warnings:
            print(w, file=sys.stderr)

        def label(i: int) -> str:
            return f"{flowgroups[i].pipeline}/{flowgroups[i].flowgroup}"

        out: list[BuildContext] = [None] * len(flowgroups)  # type: ignore[list-item]
        for number, stage in enumerate(execution_stages(deps, len(flowgroups)), 1):
            t0 = time.time()
            lanes = stage_lanes(flowgroups, stage, self._reporting_cfg, self.base_dir)
            first_event = len(self.event_log)
            errors = self._run_lanes(flowgroups, lanes, conf, out)
            # lanes finish in any order; each run appended its events in one
            # piece, so a stable sort restores flowgroup order
            rank: dict[tuple, int] = {}
            for i in stage:
                rank.setdefault((flowgroups[i].pipeline, flowgroups[i].flowgroup), i)
            self.event_log[first_event:] = sorted(
                self.event_log[first_event:],
                key=lambda e: rank.get((e["pipeline"], e["flowgroup"]), len(flowgroups)),
            )
            if errors:
                raise errors[min(errors)]
            # compact BETWEEN stages, not per-flowgroup and not after
            # everything. Per-flowgroup would delete the files behind a
            # SIBLING context's registered DataFrame (file indexes are
            # captured at read() time). Fully-global would leave later-stage
            # READERS (a load of the table into a differently-named view)
            # holding pre-compaction listings. Stage ordering guarantees
            # every reader of a table runs in a stage after its writers, so
            # the safe point is: after the writing stage, before the next
            # stage starts. All finished contexts get their target reads
            # refreshed; completed stages keep their compactions even if a
            # later stage fails.
            finished = [c for c in out if c is not None]
            if any(c.pending_compactions for c in finished):
                from lakehouse_plumber_spark.operators.write import run_pending_compactions

                # run() already flushed each context's event log into the
                # runner's — forward post-flush compaction events explicitly
                run_pending_compactions(finished, forward_log=self.event_log.append)
            self.event_log.append({
                "pipeline": "", "flowgroup": "", "run_id": "",
                "action": f"stage_{number}", "event": "stage_completed",
                "details": {
                    "stage": number,
                    "flowgroups": [label(i) for i in stage],
                    "lanes": [[label(i) for i in lane] for lane in lanes],
                    "seconds": round(time.time() - t0, 3),
                },
            })
        return out

    def _run_lanes(
        self,
        flowgroups: list[FlowGroup],
        lanes: list[list[int]],
        conf: Optional[dict],
        out: list,
    ) -> dict[int, BaseException]:
        """Run one stage's lanes, filling `out[i]` with each flowgroup's
        context; returns {flowgroup index: error} for the runs that raised."""
        errors: dict[int, BaseException] = {}

        def lane(members: list[int]) -> None:
            for i in members:
                try:
                    out[i] = self.run(flowgroups[i], conf=conf, defer_compactions=True)
                except BaseException as e:
                    errors[i] = e
                    raise

        if len(lanes) == 1:
            # the error is in `errors`: run_many raises it once the event
            # log is in order
            with contextlib.suppress(BaseException):
                lane(lanes[0])
            return errors
        workers = min(len(lanes), LANES_PER_CORE * self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(workers, thread_name_prefix="lhp-lane") as pool:
            futures = [pool.submit(self._inheriting(lane), m) for m in lanes]
            wait(futures, return_when=FIRST_EXCEPTION)
            for f in futures:
                f.cancel()  # lanes still queued do not start; running ones finish
        # a lane that raised before its first run (setting up its thread)
        # recorded nothing: charge the error to its first flowgroup
        for members, f in zip(lanes, futures):
            if not f.cancelled() and f.exception() and errors.keys().isdisjoint(members):
                errors[members[0]] = f.exception()
        return errors

    def _inheriting(self, fn):
        """`fn` wrapped to run with a copy of the calling thread's local
        properties (job group, and room for Spark's per-thread SQL execution
        id). One wrapper per lane, so each lane thread gets its own copy.
        Without pinned threads (PYSPARK_PIN_THREAD=false) JVM properties do
        not follow Python threads, and `inheritable_thread_target` hands the
        session back: `fn` then runs as it is."""
        wrap = inheritable_thread_target(self.spark)
        return fn if wrap is self.spark else wrap(fn)

    def event_log_df(self) -> DataFrame:
        import json

        rows = [
            (
                e["pipeline"], e["flowgroup"], e["run_id"], e["action"], e["event"],
                json.dumps(e.get("details", {}), default=str),
            )
            for e in self.event_log
        ]
        return self.spark.createDataFrame(
            rows, "pipeline string, flowgroup string, run_id string, action string, event string, details string"
        )
