"""Generated by lakehouse_plumber_spark.codegen — standalone PySpark.

Pipeline:  silver
Flowgroup: orders_clean

No engine import: this file is exactly what executes.
"""

import os

from pyspark.sql import Window
from pyspark.sql import functions as F


# The engine's own functions, copied verbatim at compile time from:
# lakehouse_plumber_spark/expectations.py
# lakehouse_plumber_spark/tables.py
from dataclasses import dataclass
from typing import Optional
from pyspark.sql import DataFrame
from pyspark.sql import Observation
import shutil
import uuid
from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Expectation:
    name: str
    constraint: str
    action: str = "warn"  # warn | drop | fail

    def __post_init__(self):
        if self.action not in ("warn", "drop", "fail"):
            raise ValueError(f"expectation action must be warn|drop|fail, got {self.action!r}")


def combined_predicate(exps: list[Expectation]) -> Optional[str]:
    """AND of all constraints (the clean-path predicate)."""
    if not exps:
        return None
    return " AND ".join(f"({e.constraint})" for e in exps)


def apply_expectations(
    df: DataFrame,
    exps: list[Expectation],
    observation_name: str = "dq",
) -> tuple[DataFrame, Optional[Observation], list[Expectation]]:
    """Apply warn/drop semantics; return (df, observation, fail_expectations).

    The observation carries `violations_<name>` counters for every expectation
    plus `rows_total`; callers read `observation.get` after an action runs
    and assert the returned fail expectations on it. Spark's Observation
    refuses a streaming frame, so a stream gets no observation (None), and
    a stream with a fail expectation is refused: nothing would enforce it.
    """
    if not exps:
        return df, None, []
    drop_exps = [e for e in exps if e.action == "drop"]
    fail_exps = [e for e in exps if e.action == "fail"]
    if df.isStreaming and fail_exps:
        raise ValueError(f"fail expectations {[e.name for e in fail_exps]} are not enforced on a "
                         "stream: make them expect_or_drop, or read the source in batch mode")
    obs = None if df.isStreaming else Observation(observation_name)
    if obs is not None:
        metrics = [F.count(F.lit(1)).alias("rows_total")]
        for e in exps:
            metrics.append(
                F.sum(
                    F.when(~F.coalesce(F.expr(e.constraint), F.lit(False)), 1).otherwise(0)
                ).alias(f"violations_{e.name}")
            )
        df = df.observe(obs, *metrics)
    if drop_exps:
        df = df.filter(F.expr(combined_predicate(drop_exps)))
    return df, obs, fail_exps


def _write_sort_cols(
    partition_columns: Optional[list[str]], order_within_files: list[str]
) -> list[str]:
    """Task-sort columns for a clustered write: a partitionBy() writer
    REQUIRES task rows ordered by the partition columns and inserts its own
    (unstable) sort when they aren't — which would silently destroy the
    cluster ordering. Sorting by (partition_cols + cluster_cols) satisfies
    the writer's requirement, so it skips its sort and the within-file
    cluster order survives."""
    pre = list(partition_columns or [])
    return pre + [c for c in order_within_files if c not in pre]


def swap_overwrite(
    path: str,
    df: DataFrame,
    partition_columns: Optional[list[str]] = None,
    order_within_files: Optional[list[str]] = None,
) -> None:
    """Atomic overwrite of the parquet table at `path`: write to a shadow
    dir, swap, drop the old data. The rename is the commit point.
    ``order_within_files`` sorts rows inside each write task AFTER the
    partition co-location shuffle (cluster_columns layout — applied last so
    the repartition cannot undo it).

    Zero-row results need a schema-bearing file (a partitioned/multi-task
    empty write emits no parquet footer at all), but probing df.isEmpty()
    up front would evaluate the WHOLE query once extra — for an MV refresh
    or CDC rebuild that doubles the compute. Instead: write first, and
    only if the shadow dir came out file-less rewrite it as one empty
    single-task file (the second write runs on a known-empty frame, so the
    slow path costs nothing).
    """
    shadow = f"{path}__swap_{uuid.uuid4().hex[:8]}"
    out = df
    if partition_columns:
        out = out.repartition(*[F.col(c) for c in partition_columns])
    if order_within_files:
        out = out.sortWithinPartitions(
            *_write_sort_cols(partition_columns, order_within_files)
        )
    w = out.write.mode("overwrite")
    if partition_columns:
        w = w.partitionBy(*partition_columns)
    w.parquet(shadow)
    if not any(
        f.endswith(".parquet") for _, _, fs in os.walk(shadow) for f in fs
    ):
        df.sparkSession.createDataFrame([], df.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(shadow)
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.isdir(path):
        os.rename(path, backup)
    os.rename(shadow, path)
    if os.path.isdir(backup):
        shutil.rmtree(backup, ignore_errors=True)
    # invalidate cached file listings for THIS path only — clearCache()
    # here would drop every cached relation in the session (including
    # in-flight persisted frames and unrelated tables' file indexes)
    df.sparkSession.catalog.refreshByPath(path)


def build(spark, out_dir):
    """Run the pipeline; writes tables under out_dir, returns {name: DataFrame}."""
    views = {}
    written = {}

    def _tbl_path(name):
        return os.path.join(out_dir, name.replace(".", "/"))

    def _ckpt(name):
        return os.path.join(out_dir, "_ckpt", name)

    # action: load_tagged (delta)
    df = spark.table('orders_tagged')
    views['v_src'] = df
    df.createOrReplaceTempView('v_src')

    # action: dq (data_quality)
    df = views['v_src']
    _exps_dq = [
        Expectation(name='positive_total', constraint='o_totalprice > 0', action='drop'),
    ]
    df, _obs_dq, _fails_dq = apply_expectations(df, _exps_dq, 'dq_dq')
    views['v_clean'] = df
    df.createOrReplaceTempView('v_clean')

    # action: write_clean (materialized_view)
    df = views['v_clean']
    swap_overwrite(_tbl_path('main.silver.orders_clean'), df)
    written['main.silver.orders_clean'] = spark.read.parquet(_tbl_path('main.silver.orders_clean'))

    return written
