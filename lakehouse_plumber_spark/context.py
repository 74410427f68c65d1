"""BuildContext: per-run state threaded through operator executors."""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from lakehouse_plumber_spark.models import FlowGroup
from lakehouse_plumber_spark.tables import ParquetTableStore

# The drain a compiled script carries, copied verbatim by codegen.
STANDALONE_IMPORTS = ("from typing import Callable", "from typing import Optional",
                      "from pyspark.sql import DataFrame",
                      "from pyspark.sql.streaming import DataStreamWriter")
STANDALONE_FUNCTIONS = ("run_available_now", "for_each_batch")


def run_available_now(writer: DataStreamWriter, ckpt: str) -> None:
    """Drain a streaming query to the end of its input and return: the
    triggered-pipeline execution model. `writer` is a DataStreamWriter with
    its sink set; its offsets live in the checkpoint dir `ckpt`, so the next
    run reads only new input."""
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q.awaitTermination()


def for_each_batch(
    df: DataFrame,
    body: Callable[[DataFrame, int], None],
    ckpt: str,
    guard: bool = False,
    on_skip: Optional[Callable[[int], None]] = None,
) -> None:
    """Run `body(batch_df, epoch_id)` over `df`: once as `body(df, 0)` for a
    batch frame, else per micro-batch of an availableNow drain
    (`run_available_now`) checkpointed in `ckpt`.

    foreachBatch is at-least-once: after a crash before the checkpoint
    commit, the restarted query replays the same epoch ids. A body whose
    writes are not idempotent sets `guard`: epochs at or below the last one
    applied are then skipped (and passed to `on_skip`). The last applied
    epoch is kept in a marker file inside `ckpt` itself, replaced
    atomically, so deleting the checkpoint to reprocess from scratch deletes
    the marker with it. The body's writes and the marker are two writes,
    not one commit: a crash between them still applies that one epoch twice
    on replay (a Delta store would fold the marker into the body's
    transaction). A batch frame is never a replay and is not guarded."""
    if not df.isStreaming:
        body(df, 0)
        return
    if guard:
        marker = os.path.join(ckpt, "_lhp_last_epoch")
        unguarded = body

        def body(batch_df: DataFrame, epoch: int) -> None:
            if os.path.exists(marker):
                with open(marker) as f:
                    if epoch <= int(f.read()):
                        if on_skip is not None:
                            on_skip(epoch)
                        return
            unguarded(batch_df, epoch)
            with open(marker + ".tmp", "w") as f:
                f.write(str(epoch))
            os.replace(marker + ".tmp", marker)

    run_available_now(df.writeStream.foreachBatch(body), ckpt)


@dataclass
class BuildContext:
    spark: SparkSession
    store: ParquetTableStore
    flowgroup: FlowGroup
    base_dir: str = "."  # resolves sql_path / module_path / schema_file
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    views: dict[str, DataFrame] = field(default_factory=dict)
    event_log: list[dict] = field(default_factory=list)
    # (action_name, Observation, fail_expectations) to assert after execution
    pending_checks: list[tuple] = field(default_factory=list)
    # structured DQ test outcomes, published post-run by the test-reporting
    # hook (reference templates/test_reporting/hook.py.j2:1-115)
    test_results: list[dict] = field(default_factory=list)
    # {target: (action_name, max_files, cluster_columns)} — auto-compaction
    # candidates collected during the run, performed by the runner AFTER all
    # actions so no registered DataFrame's file index is invalidated mid-build
    pending_compactions: dict[str, tuple] = field(default_factory=dict)
    conf: dict[str, Any] = field(default_factory=dict)
    # project-level (lhp.yaml) operational_metadata columns, {name: sql_expr}
    # — extend the audit-column vocabulary available to every action
    metadata_columns: dict[str, str] = field(default_factory=dict)
    # project-level (lhp.yaml) test_reporting block — the fallback when the
    # flowgroup declares none; test operators consult it to decide whether
    # collecting full violation counts is worth paying for
    test_reporting_default: Optional[dict] = None

    def resolve_path(self, p: str) -> str:
        if os.path.isabs(p):
            return p
        return os.path.join(self.base_dir, p)

    def register(self, name: str, df: DataFrame) -> None:
        self.views[name] = df
        # expose to spark.sql for sql transforms; streaming dfs register fine.
        # temp views are single-part: 3-part table names get dots folded so
        # SQL can still reference e.g. main.gold.t as main__gold__t
        df.createOrReplaceTempView(name.replace(".", "__"))

    def resolve_view(self, name: str) -> DataFrame:
        if name in self.views:
            return self.views[name]
        if self.store.exists(name):
            return self.store.read(name)
        return self.spark.table(name)

    def log(self, action: str, event: str, **details: Any) -> None:
        self.event_log.append(
            {
                "pipeline": self.flowgroup.pipeline,
                "flowgroup": self.flowgroup.flowgroup,
                "run_id": self.run_id,
                "action": action,
                "event": event,
                "details": details,
            }
        )

    def checkpoint(self, *parts: str) -> str:
        return self.store.checkpoint_dir(self.flowgroup.pipeline, self.flowgroup.flowgroup, *parts)

    def run_available_now(self, writer: DataStreamWriter, *ckpt_parts: str) -> None:
        """`run_available_now` in the per-flow checkpoint
        `self.checkpoint(*ckpt_parts)`. Every streaming write of the engine
        goes through here or `for_each_batch`."""
        run_available_now(writer, self.checkpoint(*ckpt_parts))

    def for_each_batch(
        self,
        df: DataFrame,
        body: Callable[[DataFrame, int], None],
        *ckpt_parts: str,
        replay_guard: Optional[str] = None,
    ) -> None:
        """`for_each_batch` in the per-flow checkpoint
        `self.checkpoint(*ckpt_parts)`. A body whose writes are not
        idempotent names its target in `replay_guard`: replayed epochs are
        skipped and logged as `epoch_skipped` (with `table=`) under the
        action named by the last checkpoint part."""
        for_each_batch(
            df, body, self.checkpoint(*ckpt_parts), guard=replay_guard is not None,
            on_skip=lambda epoch: self.log(
                ckpt_parts[-1], "epoch_skipped", table=replay_guard, epoch=epoch
            ),
        )

    def strip_internal(self, df: DataFrame) -> DataFrame:
        """Drop engine-internal __-prefixed columns (e.g. __seq) on read.

        SCD2's __start_at/__end_at are user-facing (reference consumes them in
        gold SQL: Example_Projects/acmi/SQL/gld/revenue_by_region_mv.sql:9-15)
        and are kept.
        """
        keep = {"__start_at", "__end_at"}
        if "__tombstone" in df.columns:
            # CDC tombstones are state, not data — hidden from readers
            df = df.filter(~df["__tombstone"])
        internal = [c for c in df.columns if c.startswith("__") and c not in keep]
        return df.drop(*internal) if internal else df
