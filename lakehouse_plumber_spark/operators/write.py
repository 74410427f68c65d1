"""Write operators: streaming tables (standard/cdc/snapshot_cdc), materialized
views, and the four sink sub-types. Reference inventory: SURVEY §2.3.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_plumber_spark.context import BuildContext
from lakehouse_plumber_spark.models import Action, WriteTarget
from lakehouse_plumber_spark.operators.cdc import apply_changes, apply_snapshot
from lakehouse_plumber_spark.operators.incremental import (
    finalize_incremental,
    incremental_update,
    non_mergeable_aggs,
    recompute_aggs,
)
from lakehouse_plumber_spark.operators.load import _import_module
from lakehouse_plumber_spark.schema_parser import coerce_schema
from lakehouse_plumber_spark.tables import merge_compaction


@contextmanager
def _clustered_for_write(df: DataFrame, wt: WriteTarget):
    """`cluster_columns` / `cluster_by_auto` (reference _action.py:33-34 ->
    Delta liquid clustering / OPTIMIZE ZORDER), yielded as
    ``(laid_df, order_within_files)`` for one store write.

    - ``cluster_columns`` alone: sort rows within write tasks on the keys, so
      parquet min/max footers skip on the LEADING column — free (no extra
      shuffle), but a filter on the second key still touches every file.
    - ``cluster_by_auto: true`` with >= 2 ``cluster_columns`` on an
      UNPARTITIONED table: Morton (Z-order) layout — interleave the columns'
      quantized bits into one key (functions/zorder.py), range-repartition +
      sort on it, so every file covers a compact hyper-rectangle and footers
      prune on EACH clustered column.  Costs one range shuffle per write
      (the same rewrite OPTIMIZE ZORDER performs); on a streaming table it
      applies per micro-batch, so pair it with lhp.autoOptimize.maxFiles
      compaction.  String keys are xxhash64-encoded (equality skipping
      survives; range locality does not).  The input is persisted across the
      Morton stats pass AND the caller's write, then unpersisted on exit —
      without the cache an MV refresh would evaluate its whole query twice
      (once for min/max stats, once for the write).
    - PARTITIONED targets: morton degrades to lexicographic ordering within
      partition files (the same rule as tables.compact — the partition dirs
      own their leading key, and overwrite's co-location shuffle would
      destroy any pre-shuffled layout).  The ordering is returned as
      ``order_within_files`` so the store applies it where it actually
      survives: AFTER overwrite's co-location shuffle (including the
      creation path of append), and led by the partition columns so the
      partitionBy writer's own unstable sort is skipped.
    """
    cols = wt.cluster_columns or []
    if not cols or df.isStreaming:
        yield df, None
        return
    if wt.partition_columns:
        yield df, cols
        return
    if wt.cluster_by_auto and len(cols) >= 2:
        from lakehouse_plumber_spark.functions.zorder import morton_layout

        cached = df.persist()
        try:
            yield morton_layout(cached, cols), None
        finally:
            cached.unpersist()
        return
    yield df.sortWithinPartitions(*cols), None


def _cdf_enabled(wt: WriteTarget) -> bool:
    return str((wt.table_properties or {}).get("delta.enableChangeDataFeed", "false")).lower() == "true"


@contextmanager
def _with_spark_conf(spark, conf: Optional[dict]):
    """Per-table `spark_conf` (reference _action.py:35 -> "apply on the
    writing query"): set for the duration of this write, then restore."""
    if not conf:
        yield
        return
    old: dict[str, Optional[str]] = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _table_name(ctx: BuildContext, wt: WriteTarget) -> str:
    name = wt.full_name
    if not name:
        raise ValueError("write target needs catalog/schema/table or path")
    return name


def write_streaming_table(ctx: BuildContext, action: Action) -> Optional[DataFrame]:
    """Streaming table with append flows / AUTO CDC / snapshot CDC
    (reference write/streaming_table.py.j2:1-244).

    - standard: each flow appends; a streaming input is drained by
      `BuildContext.for_each_batch` (one availableNow foreachBatch query per
      flow, with its own checkpoint: the triggered-DLT execution model), a
      batch input is appended once; `once: true` flows run a single backfill
      guarded by a marker file.
    - cdc: every micro-batch (or the one batch frame) goes through
      `apply_changes` (SCD1/SCD2 merge), drained the same way.
    - snapshot_cdc: pull (df, version) snapshots until exhausted, diff, merge.

    Scale: appends are file-level (no rewrite); CDC merges shuffle only on the
    CDC keys over affected keys; partition_columns are honored for pruning.
    """
    wt = action.write_target
    assert wt is not None
    target = _table_name(ctx, wt)
    cdf = _cdf_enabled(wt)

    with _with_spark_conf(ctx.spark, wt.spark_conf):
        out = _write_streaming_table_inner(ctx, action, wt, target, cdf)
    _apply_uc_tags(ctx, action, wt, target)
    return out


def _apply_uc_tags(ctx: BuildContext, action: Action, wt: WriteTarget, target: str) -> None:
    """Unity Catalog tagging (reference uc_tagging_hook_generator.py +
    tags_file_parser.py), mapped onto the store's meta sidecar: with a
    UC-backed store these become `ALTER TABLE ... SET TAGS`; here the tag
    state is persisted per table (`uc_tags`, `uc_column_tags`) and applied
    ADDITIVELY (the reference's default, remove_undeclared_tags=False).

    A tags_file is the SOLE source of both table and column tags; inline
    `tags` supplies table tags only (validation forbids declaring both).
    A sidecar whose declared identifier differs from the write target's
    table logs a mismatch event and proceeds with the target's name."""
    if wt.tags is None and not wt.tags_file:
        return
    from lakehouse_plumber_spark.schema_parser import parse_tags_file

    if wt.tags_file:
        ident, table_tags, column_tags = parse_tags_file(ctx.resolve_path(wt.tags_file))
        if ident and wt.table and str(ident).lower() != str(wt.table).lower():
            ctx.log(
                action.name, "tags_file_identifier_mismatch",
                declared=str(ident), actual=str(wt.table),
            )
    else:
        table_tags = {str(k): "" if v is None else str(v) for k, v in (wt.tags or {}).items()}
        column_tags = {}
    if table_tags is not None:
        cur = dict(ctx.store.get_meta(target, "uc_tags", {}) or {})
        cur.update(table_tags)
        ctx.store.set_meta(target, "uc_tags", cur)
    if column_tags:
        cur_c = {
            k: dict(v)
            for k, v in (ctx.store.get_meta(target, "uc_column_tags", {}) or {}).items()
        }
        for col, t in column_tags.items():
            cur_c.setdefault(col, {}).update(t)
        ctx.store.set_meta(target, "uc_column_tags", cur_c)
    if table_tags is not None or column_tags:
        ctx.log(
            action.name, "tags_applied", target=target,
            n_table_tags=len(table_tags or {}),
            n_column_tags=sum(len(v) for v in column_tags.values()),
        )


def _write_streaming_table_inner(
    ctx: BuildContext, action: Action, wt: WriteTarget, target: str, cdf: bool
) -> Optional[DataFrame]:
    if wt.create_table and wt.mode == "standard":
        schema = coerce_schema(wt.table_schema) if wt.table_schema else None
        if wt.schema_file:
            schema = coerce_schema(ctx.resolve_path(wt.schema_file))
        ctx.store.create_if_not_exists(
            target, schema=schema, partition_columns=wt.partition_columns,
            table_properties=wt.table_properties, comment=wt.comment,
        )

    if wt.mode == "cdc":
        assert wt.cdc_config is not None, "cdc mode requires cdc_config"
        ctx.for_each_batch(
            ctx.resolve_view(str(action.source)),
            lambda b, _e: apply_changes(ctx.store, target, b, wt.cdc_config, wt.partition_columns),
            "cdc", action.name,
        )
        ctx.log(action.name, "cdc_applied", target=target, scd_type=wt.cdc_config.scd_type)

    elif wt.mode == "snapshot_cdc":
        cfg = wt.snapshot_cdc_config
        assert cfg is not None, "snapshot_cdc mode requires snapshot_cdc_config"
        fn = cfg.source_callable
        if fn is None and cfg.source_function is not None:
            mod = _import_module(ctx.resolve_path(cfg.source_function.file), f"lhp_snap_{action.name}")
            raw = getattr(mod, cfg.source_function.function)
            params = cfg.source_function.parameters

            def fn(v):  # noqa: ANN001
                return raw(v, **params) if params else raw(v)

        if fn is not None:
            # iterate: fn(latest_applied_version|None) -> (df, version) | None
            latest: Any = None
            while True:
                result = fn(latest)
                if result is None:
                    break
                snap_df, version = result
                apply_snapshot(ctx.store, target, snap_df, version, cfg)
                latest = version
        else:
            snap_df = ctx.resolve_view(str(cfg.source))
            version = ctx.conf.get("snapshot_version", 0)
            apply_snapshot(ctx.store, target, snap_df, version, cfg)
        ctx.log(action.name, "snapshot_cdc_applied", target=target)

    else:  # standard append flow(s)
        df = ctx.resolve_view(str(action.source))
        if action.once:
            marker = os.path.join(ctx.checkpoint("once"), f"{action.name}.done")
            if os.path.exists(marker):
                ctx.log(action.name, "once_flow_skipped", target=target)
                return _register_read(ctx, action, target)

        def _append(batch_df: DataFrame, _epoch: int) -> None:
            with _clustered_for_write(batch_df, wt) as (laid, owf):
                ctx.store.append(target, laid, wt.partition_columns, order_within_files=owf)
            if cdf:
                ctx.store.log_changes(target, batch_df, "insert")

        ctx.for_each_batch(df, _append, "flow", action.name, replay_guard=target)
        if action.once:
            with open(marker, "w") as f:
                f.write(ctx.run_id)
        ctx.log(action.name, "flow_appended", target=target, once=action.once)
        _maybe_auto_compact(ctx, action, wt, target)

    return _register_read(ctx, action, target)


def _maybe_auto_compact(ctx: BuildContext, action: Action, wt: WriteTarget, target: str) -> None:
    """Opt-in post-run compaction, the OSS analogue of Delta auto-optimize
    (`delta.autoOptimize.autoCompact`): append flows leave one file per
    micro-batch per partition, and on a long-lived streaming table the file
    count — not the byte count — eventually dominates scan cost. Declared as
    a table property:

        table_properties: {lhp.autoOptimize.maxFiles: "64"}

    The flow only REGISTERS the candidate here; the runner compacts after
    every action has executed. Compacting mid-run would rename/delete the
    parquet files behind DataFrames registered by earlier flows — Spark file
    indexes are captured at read() time, so a lazy consumer of the
    pre-compaction listing would hit FileNotFoundException. At run end the
    table is rewritten through the store's atomic shadow-swap compaction
    (readers see old or new, never a mix) iff its file count exceeds the
    bound; cluster_columns ordering is re-applied so data skipping
    survives. Compaction never changes content, CDF, or table meta — but it
    DOES rename every data file, so tables with streaming consumers (whose
    checkpoints track file paths) are skipped with an auto_compact_skipped
    event, and `validate` flags the property/stream combination statically
    (dag.validate_streaming_compaction)."""
    props = wt.table_properties or {}
    raw = props.get("lhp.autoOptimize.maxFiles")
    if raw is None:
        return
    ccols = list(wt.cluster_columns or [])
    entry = (
        action.name,
        int(raw),
        ccols,
        bool(wt.cluster_by_auto and len(ccols) >= 2),
    )
    cur = ctx.pending_compactions.get(target)
    if cur is not None:
        # sibling flows into the same target WITHIN one flowgroup merge by
        # the same rule run_pending_compactions applies across contexts:
        # strictest bound wins, a declared cluster ordering always survives
        entry = merge_compaction(cur, entry)
    ctx.pending_compactions[target] = entry


def run_pending_compactions(ctxs: list, forward_log=None) -> None:
    """Perform the compactions registered by append flows, across any number
    of finished contexts, in ONE pass (the runner calls this after a single
    run's action loop, and run_many calls it after each stage):

    - per target, the strictest (smallest) registered max_files wins — two
      flowgroups declaring different bounds must not race on submission
      order;
    - each target compacts at most once;
    - only targets actually rewritten trigger re-registration, and the
      refresh covers EVERY provided context's registered read of the table
      (a sibling flowgroup's context may hold one);
    - `forward_log` (when given) receives each auto_compacted event — for
      callers that already flushed the context's event log.
    """
    agg: dict[str, tuple] = {}
    for ctx in ctxs:
        for target, (action_name, max_files, ccols, morton) in ctx.pending_compactions.items():
            cur = agg.get(target)
            if cur is None:
                agg[target] = (action_name, max_files, ccols, morton, ctx)
            else:
                # siblings across contexts merge as within one
                merged = merge_compaction(cur[:4], (action_name, max_files, ccols, morton))
                agg[target] = (*merged, ctx if max_files < cur[1] else cur[4])
    compacted: list[str] = []
    for target, (action_name, max_files, ccols, morton, ctx) in agg.items():
        if ctx.store.get_meta(target, "streaming_consumed"):
            # ADVICE r4 high: compaction renames every data file, and a
            # parquet FileStreamSource checkpoint tracks file PATHS — a
            # streaming consumer of this table would re-ingest it in full.
            # Skip loudly; dag.validate_streaming_compaction flags the
            # combination statically when both sides are project-declared.
            ctx.log(
                action_name,
                "auto_compact_skipped",
                target=target,
                reason="table has streaming consumers; compaction would make "
                       "their checkpoints re-ingest every (renamed) file",
            )
            if forward_log is not None:
                forward_log(ctx.event_log[-1])
            continue
        if ctx.store._data_file_count(target) <= max_files:
            continue
        res = ctx.store.compact(target, order_within_files=ccols or None, morton=morton)
        compacted.append(target)
        ctx.log(
            action_name,
            "auto_compacted",
            target=target,
            files_before=res["files_before"],
            files_after=res["files_after"],
        )
        if forward_log is not None:
            forward_log(ctx.event_log[-1])
    for ctx in ctxs:
        ctx.pending_compactions.clear()
        for target in compacted:
            if target in ctx.views:
                ctx.register(target, ctx.strip_internal(ctx.store.read(target)))


def _register_read(ctx: BuildContext, action: Action, target: str) -> DataFrame:
    out = ctx.strip_internal(ctx.store.read(target))
    ctx.register(target, out)
    return out


def _write_mv_full_recompute(
    ctx: BuildContext, action: Action, wt: WriteTarget, target: str, cfg,
    df: DataFrame, bad: dict[str, str],
) -> DataFrame:
    """`on_non_mergeable: recompute` fallback for incremental MVs: the
    streamed rows are appended (checkpointed, epoch-deduped) into
    `{target}__base`, and the MV is recomputed IN FULL from the base per
    refresh — exact distinct / medians / percentiles stay correct at the
    price of refresh work ∝ table size.  The incremental path's state-merge
    algebra can't express these; a sketch (e.g. KMV for distinct counts) is
    the scalable fix, and the logged event names the offending aggregates so
    the user can see exactly what to replace."""
    base = f"{target}__base"
    with _with_spark_conf(ctx.spark, wt.spark_conf):
        # a blind append is not idempotent: replayed epochs are skipped
        ctx.for_each_batch(
            df, lambda b, _e: ctx.store.append(base, b), "imv", action.name, replay_guard=base
        )
        full = recompute_aggs(ctx.store.read(base), cfg.group_by, cfg.aggs)
        with _clustered_for_write(full, wt) as (laid, owf):
            ctx.store.overwrite(
                target, laid,
                partition_columns=wt.partition_columns,
                order_within_files=owf,
            )
    ctx.log(
        action.name,
        "imv_full_recompute",
        target=target,
        non_mergeable=sorted(bad),
    )
    _apply_uc_tags(ctx, action, wt, target)
    return _register_read(ctx, action, target)


def write_materialized_view(ctx: BuildContext, action: Action) -> DataFrame:
    """Batch-recomputed table from SQL or a source view
    (reference write/materialized_view.py.j2:1-61): full overwrite refresh.
    `refresh_policy: incremental` instead maintains the MV from a streaming
    source via mergeable partial aggregates (operators/incremental.py) —
    work per refresh ∝ new data, not table size.
    """
    wt = action.write_target
    assert wt is not None
    target = _table_name(ctx, wt)

    if wt.refresh_policy == "incremental":
        cfg = wt.incremental_config
        if cfg is None:
            raise ValueError("refresh_policy: incremental requires incremental_config")
        df = ctx.resolve_view(str(action.source))
        if not df.isStreaming:
            raise ValueError(
                "incremental materialized view needs a streaming source "
                "(checkpointed incremental discovery is what bounds refresh work)"
            )
        bad = non_mergeable_aggs(cfg.aggs)
        if bad:
            # only reachable with on_non_mergeable='recompute' (the config
            # validator rejects these otherwise)
            return _write_mv_full_recompute(ctx, action, wt, target, cfg, df, bad)
        state = f"{target}__state"
        with _with_spark_conf(ctx.spark, wt.spark_conf):
            # the merge adds partials, so it is not idempotent: replayed
            # epochs are skipped
            ctx.for_each_batch(
                df,
                lambda b, _e: incremental_update(ctx.store, state, b, cfg.group_by, cfg.aggs),
                "imv", action.name, replay_guard=state,
            )
            finalize_incremental(
                ctx.store, target, state, cfg.group_by, cfg.aggs, wt.partition_columns
            )
        ctx.log(action.name, "mv_incremental_refreshed", target=target)
        _apply_uc_tags(ctx, action, wt, target)
        return _register_read(ctx, action, target)
    query = wt.sql or action.sql
    if not query and (wt.sql_path or action.sql_path):
        with open(ctx.resolve_path(wt.sql_path or action.sql_path)) as f:
            query = f.read()
    if query:
        from lakehouse_plumber_spark.operators.transform import resolve_sql_tables

        df = ctx.spark.sql(resolve_sql_tables(ctx, query))
    else:
        df = ctx.resolve_view(str(action.source))
    if wt.row_filter:
        df = df.where(wt.row_filter)
    bf = (ctx.conf or {}).get("__backfill__")
    if bf and wt.partition_columns and bf[0] in wt.partition_columns:
        # partition-scoped refresh (PipelineRunner.backfill): restrict the
        # MV output to the requested partition values — Catalyst pushes the
        # isin through the plan, so the SOURCES prune too — and commit via
        # dynamic partition overwrite.  Untouched partitions keep their
        # files; work scales with the affected partitions, not the table.
        col, values = bf
        scoped = df.where(F.col(col).isin(list(values)))
        with _with_spark_conf(ctx.spark, wt.spark_conf):
            ctx.store.overwrite_partitions(target, scoped, wt.partition_columns)
        if _cdf_enabled(wt):
            # parity with the full-overwrite branch: CDF consumers must see
            # the backfilled rows (the rewritten partitions' new content)
            ctx.store.log_changes(target, scoped, "insert")
        ctx.log(
            action.name, "mv_backfilled", target=target,
            partition_col=col, n_values=len(values),
        )
        _apply_uc_tags(ctx, action, wt, target)
        return _register_read(ctx, action, target)
    with _with_spark_conf(ctx.spark, wt.spark_conf):
        with _clustered_for_write(df, wt) as (laid, owf):
            ctx.store.overwrite(
                target, laid,
                partition_columns=wt.partition_columns,
                order_within_files=owf,
            )
    if _cdf_enabled(wt):
        ctx.store.log_changes(target, df, "insert")
    ctx.log(action.name, "mv_refreshed", target=target)
    _apply_uc_tags(ctx, action, wt, target)
    return _register_read(ctx, action, target)


def write_sink(ctx: BuildContext, action: Action) -> Optional[DataFrame]:
    """Sink dispatcher (reference write/sink.py:20-64): delta/kafka/foreachbatch/custom."""
    wt = action.write_target
    assert wt is not None
    sink_type = wt.sink_type.value if wt.sink_type else "delta"
    df = ctx.resolve_view(str(action.source))

    if sink_type == "delta":
        path = wt.path or (wt.options or {}).get("path")
        table = (wt.options or {}).get("tableName") or wt.table

        def _append(batch_df: DataFrame, _epoch: int) -> None:
            if path:
                batch_df.write.mode("append").parquet(ctx.resolve_path(path))
            else:
                ctx.store.append(table, batch_df)

        ctx.for_each_batch(df, _append, "sink", action.name)
        ctx.log(action.name, "sink_delta", path=path, table=table)
        return None

    if sink_type == "kafka":
        if "value" not in df.columns:
            raise ValueError("kafka sink requires a 'value' column")  # reference kafka_sink.py.j2:28-30
        sim = (wt.options or {}).get("simulate_path")
        if sim:
            out = df.select(
                *[c for c in ("key", "value") if c in df.columns],
                F.lit(wt.topic).alias("topic"),
            )
            if out.isStreaming:
                ctx.run_available_now(
                    out.writeStream.format("parquet").option("path", ctx.resolve_path(sim)),
                    "sink", action.name,
                )
            else:
                out.write.mode("append").parquet(ctx.resolve_path(sim))
        else:
            writer = (df.writeStream if df.isStreaming else df.write).format("kafka")
            writer = writer.option("kafka.bootstrap.servers", wt.bootstrap_servers or "")
            if wt.topic:
                writer = writer.option("topic", wt.topic)
            for k, v in (wt.options or {}).items():
                writer = writer.option(k, str(v))
            if df.isStreaming:
                ctx.run_available_now(writer, "sink", action.name)
            else:
                writer.save()
        ctx.log(action.name, "sink_kafka", topic=wt.topic)
        return None

    if sink_type == "foreachbatch":
        handler = wt.batch_handler_callable
        if handler is None:
            mod = _import_module(ctx.resolve_path(wt.batch_handler), f"lhp_fb_{action.name}")
            handler = getattr(mod, "handle_batch", None) or getattr(mod, "batch_handler")
        ctx.for_each_batch(df, handler, "sink", action.name)
        ctx.log(action.name, "sink_foreachbatch")
        return None

    if sink_type == "custom":
        cls = (wt.options or {}).get("sink_class_obj")
        if cls is None:
            mod = _import_module(ctx.resolve_path(wt.module_path), f"lhp_sink_{action.name}")
            cls = getattr(mod, wt.custom_sink_class)
        ctx.spark.dataSource.register(cls)
        fmt = (wt.options or {}).get("format") or cls.name()
        opts = {k: str(v) for k, v in (wt.options or {}).items() if k not in ("format", "sink_class_obj")}
        if df.isStreaming:
            ctx.run_available_now(df.writeStream.format(fmt).options(**opts), "sink", action.name)
        else:
            df.write.format(fmt).options(**opts).mode("append").save()
        ctx.log(action.name, "sink_custom", format=fmt)
        return None

    raise ValueError(f"unknown sink_type {sink_type!r}")
