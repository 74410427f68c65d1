"""Incremental materialized-view maintenance (continuous aggregates).

The reference's materialized view is a full batch recompute
(src/lhp/templates/write/materialized_view.py.j2:1-61) with a declared-but-
delegated `refresh_policy` field (src/lhp/models/_action.py). At 100 TB a
full recompute per refresh is the difference between minutes and hours, so
this engine implements `refresh_policy: incremental` natively — the
TimescaleDB-continuous-aggregate / Materialize-style maintenance loop,
expressed Spark-first:

    streaming source (checkpointed incremental discovery)
      -> per-micro-batch PARTIAL aggregates (map-side combine, one shuffle
         on the group keys — work ∝ batch, never ∝ table)
      -> merge into a bucketed state table: state is hash-partitioned on the
         group keys (same layout trick as operators/cdc.py); a batch rewrites
         ONLY the buckets its groups fall into (dynamic partition overwrite)
      -> finalize: visible MV = O(groups) projection of the state

Mergeability is the algebra that makes this sound: sum/count merge by sum,
min/max by min/max, avg carries (sum, count). Non-mergeable aggregates
(exact distinct, medians) need sketches and are rejected at parse time.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_plumber_spark.tables import ParquetTableStore

_AGG = re.compile(r"^\s*(sum|count|min|max|avg)\s*\((.+)\)\s*$", re.IGNORECASE | re.DOTALL)
# count(DISTINCT x) matches the shape above but is NOT mergeable: summing
# per-batch distinct counts double-counts values seen in several batches
_DISTINCT = re.compile(r"^\s*distinct\b", re.IGNORECASE)


def _match_mergeable(spec: str):
    m = _AGG.match(spec)
    return None if m is None or _DISTINCT.match(m.group(2)) else m


BUCKET_COL = "__gb"
AGG_GROUPS_PER_BUCKET = 1_000_000

# What a compiled incremental-MV script carries, copied verbatim by codegen.
STANDALONE_IMPORTS = ("from typing import Sequence", "from pyspark.sql import DataFrame")
STANDALONE_FUNCTIONS = ("_stabilize_partials", "batch_partials", "finalize_partials",
                        "recompute_aggs")


def _creation_buckets(first_batch_groups: int) -> int:
    from lakehouse_plumber_spark.tables import adaptive_bucket_count

    # state rows = distinct groups, so groups (not input rows) drive sizing
    return adaptive_bucket_count(first_batch_groups, rows_per_bucket=AGG_GROUPS_PER_BUCKET)


def parse_aggs(aggs: dict[str, str]) -> list[tuple[str, str, str]]:
    """`{alias: "sum(expr)" | "count(*)" | "min(e)" | "max(e)" | "avg(e)"}`
    -> [(alias, fn, expr)]. Anything non-mergeable is an error."""
    out = []
    for alias, spec in aggs.items():
        m = _match_mergeable(spec)
        if not m:
            raise ValueError(
                f"incremental MV aggregate {alias}={spec!r} is not a mergeable "
                "aggregate (supported: sum/count/min/max/avg, without DISTINCT)"
            )
        out.append((alias, m.group(1).lower(), m.group(2)))
    return out


def non_mergeable_aggs(aggs: dict[str, str]) -> dict[str, str]:
    """The subset of `aggs` parse_aggs would reject — what routes an MV to
    the full-recompute fallback when on_non_mergeable='recompute'."""
    return {a: s for a, s in aggs.items() if not _match_mergeable(s)}


def _stabilize_partials(partials: DataFrame) -> DataFrame:
    """Pin decimal partial columns to max precision (38, same scale).

    Spark widens decimal sums by +10 precision per aggregation
    (sum(decimal(18,6)) -> decimal(28,6) -> decimal(38,6) on merge): without
    pinning, each state merge rewrites touched buckets with a WIDER type than
    untouched buckets still on disk, and the mixed-precision parquet files
    fail to read (FIXED_LEN_BYTE_ARRAY length depends on precision). Pinning
    at creation makes the state schema a fixed point of the merge."""
    from pyspark.sql import types as T

    cols = []
    for f in partials.schema.fields:
        if f.name.startswith("__p_") and isinstance(f.dataType, T.DecimalType):
            cols.append(F.col(f.name).cast(T.DecimalType(38, f.dataType.scale)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return partials.select(*cols)


def batch_partials(df: DataFrame, group_by: Sequence[str], parsed) -> DataFrame:
    """One shuffle: partial aggregates of a micro-batch per group."""
    aggs = []
    for alias, fn, expr in parsed:
        e = F.expr(expr)
        if fn in ("sum", "avg"):
            aggs.append(F.sum(e).alias(f"__p_{alias}_sum"))
        if fn == "avg":
            aggs.append(F.count(e).alias(f"__p_{alias}_cnt"))
        if fn == "count":
            cnt = F.count(F.lit(1)) if expr.strip() == "*" else F.count(e)
            aggs.append(cnt.alias(f"__p_{alias}_cnt"))
        if fn == "min":
            aggs.append(F.min(e).alias(f"__p_{alias}_min"))
        if fn == "max":
            aggs.append(F.max(e).alias(f"__p_{alias}_max"))
    return _stabilize_partials(df.groupBy(*group_by).agg(*aggs))


def _merge_partials(state: DataFrame, group_by: Sequence[str], parsed) -> DataFrame:
    aggs = []
    for alias, fn, _ in parsed:
        if fn in ("sum", "avg"):
            aggs.append(F.sum(f"__p_{alias}_sum").alias(f"__p_{alias}_sum"))
        if fn in ("count", "avg"):
            aggs.append(F.sum(f"__p_{alias}_cnt").alias(f"__p_{alias}_cnt"))
        if fn == "min":
            aggs.append(F.min(f"__p_{alias}_min").alias(f"__p_{alias}_min"))
        if fn == "max":
            aggs.append(F.max(f"__p_{alias}_max").alias(f"__p_{alias}_max"))
    # decimal(38,s) is a fixed point of sum() (p+10 caps at 38), but pin
    # again so the state schema can never drift from the on-disk layout
    return _stabilize_partials(state.groupBy(*group_by).agg(*aggs))


def incremental_update(
    store: ParquetTableStore,
    state_table: str,
    batch_df: DataFrame,
    group_by: Sequence[str],
    aggs: dict[str, str],
    n_buckets: Optional[int] = None,
) -> None:
    """Merge one micro-batch into the partial-aggregate state table.

    Reads/rewrites only the state buckets containing this batch's groups —
    work ∝ batch groups + their bucket residents, independent of state size.
    The bucket count is sized from the first batch's group count at creation
    and persisted (pruning is only sound against the stored layout).
    """
    parsed = parse_aggs(aggs)
    partials = batch_partials(batch_df, group_by, parsed)

    if store.exists(state_table):
        n_buckets = int(store.get_meta(state_table, "agg_buckets", n_buckets or 64))
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in group_by]), F.lit(n_buckets)).cast("int")
        touched = [r[0] for r in partials.select(bucket.alias("b")).distinct().collect()]
        current = store.read(state_table).filter(F.col(BUCKET_COL).isin(touched)).drop(BUCKET_COL)
        merged = _merge_partials(current.unionByName(partials), group_by, parsed)
        store.overwrite_partitions(
            state_table, merged.withColumn(BUCKET_COL, bucket), [BUCKET_COL]
        )
    else:
        if n_buckets is None:
            n_buckets = _creation_buckets(partials.count())
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in group_by]), F.lit(n_buckets)).cast("int")
        store.overwrite(
            state_table, partials.withColumn(BUCKET_COL, bucket), partition_columns=[BUCKET_COL]
        )
        store.set_meta(state_table, "agg_buckets", n_buckets)


def finalize_partials(state: DataFrame, group_by: Sequence[str], parsed) -> DataFrame:
    """Visible MV = finalized projection of partials (avg = sum/count)."""
    cols = [F.col(c) for c in group_by]
    for alias, fn, _ in parsed:
        if fn == "sum":
            cols.append(F.col(f"__p_{alias}_sum").alias(alias))
        elif fn == "count":
            cols.append(F.col(f"__p_{alias}_cnt").alias(alias))
        elif fn == "avg":
            cols.append(
                (F.col(f"__p_{alias}_sum") / F.col(f"__p_{alias}_cnt")).alias(alias)
            )
        elif fn == "min":
            cols.append(F.col(f"__p_{alias}_min").alias(alias))
        elif fn == "max":
            cols.append(F.col(f"__p_{alias}_max").alias(alias))
    return state.select(*cols)


def finalize_incremental(
    store: ParquetTableStore,
    target: str,
    state_table: str,
    group_by: Sequence[str],
    aggs: dict[str, str],
    partition_columns: Optional[list[str]] = None,
) -> None:
    """Overwrite the visible MV with `finalize_partials` of the state."""
    rows = finalize_partials(store.read(state_table), group_by, parse_aggs(aggs))
    store.overwrite(target, rows, partition_columns=partition_columns)


def recompute_aggs(rows: DataFrame, group_by: Sequence[str], aggs: dict[str, str]) -> DataFrame:
    """The MV in full over all rows: the non-mergeable fallback."""
    return rows.groupBy(*group_by).agg(*[F.expr(spec).alias(alias) for alias, spec in aggs.items()])
