"""Generated by lakehouse_plumber_spark.codegen — standalone PySpark.

Pipeline:  gold
Flowgroup: orders_by_status_fg

No engine import: this file is exactly what executes.
"""

import os

from pyspark.sql import Window
from pyspark.sql import functions as F


# The engine's own functions, copied verbatim at compile time from:
# lakehouse_plumber_spark/tables.py
import shutil
import uuid
from typing import Optional
from pyspark.sql import DataFrame
from pyspark.sql import SparkSession


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

    # action: aggregate (sql)
    df = spark.sql('SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total FROM main.silver.alice_orders_clean GROUP BY o_orderstatus')
    views['v_agg'] = df
    df.createOrReplaceTempView('v_agg')

    # action: write_agg (materialized_view)
    df = views['v_agg']
    swap_overwrite(_tbl_path('main.gold.alice_orders_by_status'), df)
    written['main.gold.alice_orders_by_status'] = spark.read.parquet(_tbl_path('main.gold.alice_orders_by_status'))

    return written
