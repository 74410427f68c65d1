"""Compile-to-source: emit a standalone PySpark script from a FlowGroup.

The reference is fundamentally a code generator — "the Python it produces is
exactly what executes in your workspace, with no import lhp"
(reference README.md:9-11; generators under src/lhp/generators/*, templates
under src/lhp/templates/*, golden baselines under tests/baselines/ e.g.
write_streaming_table.py:1-18). This module restores that property for the
executing engine: `compile_flowgroup` renders a self-contained script
(plain `pyspark.sql`, no engine import) whose `build(spark, out_dir)`
materializes the same tables the engine's PipelineRunner would.

Covered surface:
- loads: sql, delta, cloudfiles (batch + stream), python (module import or
  inlined in-process callable source)
- transforms: sql, schema, python, temp_table, data_quality (dqe and
  quarantine, batch + stream)
- writes: materialized_view (incremental too), streaming_table standard (batch + availableNow
  streaming with per-flow checkpoints, fan-in append), streaming_table CDC
  SCD1/SCD2 (foreachBatch append to a raw-events table + the engine's SCD
  functions rebuilding the table from it), snapshot_cdc (source_function
  polling loop + presence-grid delete derivation + the same functions),
  sinks (delta path/table, kafka simulate + real writer, foreachbatch
  handler, custom Python Data Source)

One prelude (`_prelude`) copies the engine's own functions into a script,
verbatim at compile time; each engine module declares its group
(STANDALONE_*), and of each group a script carries only the functions it
calls and the functions those call:
- operators/cdc.py: the store-free SCD functions (dedup, truncates, forward
  fill, SCD1/SCD2 rebuilds), so CDC scripts plan and break ties as the
  engine does;
- context.py: the drain `run_available_now` and `for_each_batch` with its
  epoch replay guard, guarded where the engine guards (standard append,
  IMV staging, `temp_table`, quarantine staging);
- functions/zorder.py: `morton_layout` for `cluster_by_auto`;
- expectations.py: `Expectation` literals resolved at compile time go
  through `apply_expectations`; a script that registers a fail check ends
  with `check_failures` (`ExpectationFailedError`);
- operators/quarantine.py: `quarantine_split` and `_parse_and_revalidate`;
- operators/incremental.py: `batch_partials`, `finalize_partials` and
  `recompute_aggs`;
- operators/load.py: `rescued_schema` and `file_stream_path`, run by the
  script; its reader options are `cloudfiles_options`, resolved at compile time;
- tables.py: the store's parquet writes. Every table in `written` is
  overwritten by `swap_overwrite` (atomic shadow swap, zero-row fallback),
  appended by `append_path` and auto-compacted by `compact_path`, with
  the cluster layout `write.py:_clustered_for_write` picks, decided at
  compile time. Compiled-only storage (raw CDC events, snapshots, DLQ,
  IMV staging, `temp_table`, sinks) keeps plain writes.

What differs from the engine is storage, not the operator bodies. An
incremental MV stages its input rows and finalizes the partials of all of
them per run (the engine's table, types included, at full-refresh cost). A
quarantine keeps its DLQ under `<out_dir>/_dlq` and recycles fixes through
a FIX INBOX (see _emit_quarantine) instead of the store's change feed. A
CDC script rebuilds the visible table from an append-only raw-events table
on every run, where the engine merges each batch into a bucketed table.
"""

from __future__ import annotations

import contextvars
import functools
import os
import re
import textwrap
import types

from lakehouse_plumber_spark.dag import topo_sort
from lakehouse_plumber_spark.models import Action, ActionType, FlowGroup

# spec-file directory for compile-time resolution of expectations_file etc.
_compile_base_dir: contextvars.ContextVar = contextvars.ContextVar(
    "lhp_compile_base_dir", default=None
)

# views that transitively feed a compiled write — Observations attached to any
# other view never populate (the plan is never materialized), so fail-checks
# on them must not be registered or the generated build() would block forever
_compile_written_views: contextvars.ContextVar = contextvars.ContextVar(
    "lhp_compile_written_views", default=None
)


def _dataflow_sources(a: Action) -> list[str]:
    """Views whose DataFrames actually flow into this action's plan.

    Differs from source_views() two ways that matter for Observation
    registration: depends_on is ordering-only (no data flow — a check
    registered through it would never populate and the footer would hang),
    and SQL text on the action or its write target (MV `write_target.sql`)
    DOES consume the referenced views even with no `source:` field."""
    from lakehouse_plumber_spark.dag import sql_table_refs

    views: list[str] = []
    if isinstance(a.source, str):
        views.append(a.source)
    elif isinstance(a.source, list):
        views.extend(s for s in a.source if isinstance(s, str))
    elif isinstance(a.source, dict):
        for key in ("source", "view", "reference", "lookup_table"):
            v = a.source.get(key)
            if isinstance(v, str):
                views.append(v)
        if isinstance(a.source.get("sql"), str):
            views.extend(sql_table_refs(a.source["sql"]))
    if a.sql:
        views.extend(sql_table_refs(a.sql))
    if a.write_target is not None and a.write_target.sql:
        views.extend(sql_table_refs(a.write_target.sql))
    return views


def _views_feeding_writes(actions: list[Action]) -> set[str]:
    """Transitive closure of views whose data flows into any write action in
    the flowgroup."""
    producers: dict[str, list[Action]] = {}
    for a in actions:
        v = a.produced_view()
        if v:
            producers.setdefault(v, []).append(a)
    reach: set[str] = set()
    stack = [a for a in actions if a.type == ActionType.WRITE]
    seen: set[int] = set()
    while stack:
        a = stack.pop()
        if id(a) in seen:
            continue
        seen.add(id(a))
        for v in _dataflow_sources(a):
            if v not in reach:
                reach.add(v)
                stack.extend(producers.get(v, []))
    return reach

_HEADER = '''\
"""Generated by lakehouse_plumber_spark.codegen — standalone PySpark.

Pipeline:  {pipeline}
Flowgroup: {flowgroup}

No engine import: this file is exactly what executes.
"""

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

'''

# only a script whose build calls it (python loads and transforms, snapshot
# source functions, module-path sinks) carries `_load_module` and its import
_LOAD_MODULE = '''
def _load_module(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

'''

_BUILD = '''\
def build(spark, out_dir):
    """Run the pipeline; writes tables under out_dir, returns {name: DataFrame}."""
    views = {}
    written = {}

    def _tbl_path(name):
        return os.path.join(out_dir, name.replace(".", "/"))

    def _ckpt(name):
        return os.path.join(out_dir, "_ckpt", name)
'''

# fail-expectation check, once the writes above filled the observations
# (the engine runner's pending_checks pass)
_FAIL_CHECK = '''\
    for _name, _obs, _fails in _dq_checks:
        check_failures(_obs, _fails)
'''

# auto-compaction (lhp.autoOptimize.maxFiles), after every action as in the
# engine's run_pending_compactions: compacting mid-build would delete the
# files behind DataFrames already captured in views/written
_COMPACT = '''\
    for _cname, (_, _cmax, _cccols, _cmorton) in _pending_compact.items():
        _cpath = _tbl_path(_cname)
        if data_file_count(_cpath) > _cmax:
            compact_path(_cpath, order_within_files=_cccols or None, morton=_cmorton)
            written[_cname] = spark.read.parquet(_cpath)
'''

_UC_TAGS = '''\
    # UC tags, resolved at compile time: persisted as one artifact per build
    # (the generated-code analogue of the reference's tagging hook; a
    # UC-backed deployment turns these into ALTER TABLE ... SET TAGS)
    import json as _json
    with open(os.path.join(out_dir, "_uc_tags.json"), "w") as _tf:
        _json.dump(
            {k: {"table_tags": v[0], "column_tags": v[1]}
             for k, v in _uc_tags.items()},
            _tf, indent=2, sort_keys=True)
'''

# (registry, its empty value, its end-of-build pass): only a script whose
# actions register into one starts build() with it and ends with the pass
_REGISTRIES = (
    ("_dq_checks", "[]", _FAIL_CHECK),
    ("_pending_compact", "{}", _COMPACT),
    ("_uc_tags", "{}", _UC_TAGS),
)


def _py_ident(name: str) -> str:
    return "".join(c if c.isalnum() else "_" for c in name)


def _emit_callable_source(fn) -> list[str]:
    """Inline an in-process callable's def into the generated file (compile-
    time seam for specs built programmatically; file-based specs use
    module_path and importlib at runtime)."""
    import inspect

    try:
        src = textwrap.dedent(inspect.getsource(fn))
    except (OSError, TypeError) as e:
        raise NotImplementedError(
            f"cannot inline callable {getattr(fn, '__name__', fn)!r}: source "
            f"not recoverable ({e}); use module_path/source_function for "
            f"compiled pipelines"
        ) from e
    return ["    " + line for line in src.rstrip().splitlines()]


def _register(target) -> list[str]:
    return [
        f"    views[{target!r}] = df",
        f"    df.createOrReplaceTempView({str(target).replace('.', '__')!r})",
    ]


def _emit_python_call(a: Action, call_shape: str) -> list[str]:
    """Shared load/transform python emission. call_shape: 'load' | 'transform'."""
    lines: list[str] = []
    src = a.source if isinstance(a.source, dict) else {}
    params = (src.get("parameters") if isinstance(src, dict) else None) or a.parameters or {}
    fn_obj = a.callable_fn
    module_path = a.module_path or (src.get("module_path") if isinstance(src, dict) else None)
    function_name = a.function_name or (src.get("function_name") if isinstance(src, dict) else None)
    ident = _py_ident(a.name)
    if fn_obj is not None:
        lines.extend(_emit_callable_source(fn_obj))
        fn_expr = fn_obj.__name__
    elif module_path:
        lines.append(
            f"    _mod_{ident} = _load_module({module_path!r}, 'gen_{ident}')"
        )
        fn_expr = f"_mod_{ident}.{function_name}"
    else:
        raise NotImplementedError(
            f"python action {a.name!r}: no module_path or in-process callable to compile"
        )
    if call_shape == "load":
        lines.append(f"    df = {fn_expr}(spark, {params!r})")
    else:
        sources = a.source
        if sources is None or isinstance(sources, dict):
            lines.append(f"    df = {fn_expr}(spark, {params!r})")
        elif isinstance(sources, str):
            lines.append(f"    df = {fn_expr}(views[{sources!r}], spark, {params!r})")
        else:
            arg = ", ".join(f"views[{s!r}]" for s in sources)
            lines.append(f"    df = {fn_expr}([{arg}], spark, {params!r})")
    return lines


# the engine modules whose STANDALONE_* functions a script may carry, in
# the order they are copied (a function's annotations name earlier groups)
_PRELUDE = (
    "lakehouse_plumber_spark.operators.cdc",
    "lakehouse_plumber_spark.context",
    "lakehouse_plumber_spark.functions.zorder",
    "lakehouse_plumber_spark.expectations",
    "lakehouse_plumber_spark.operators.quarantine",
    "lakehouse_plumber_spark.operators.incremental",
    "lakehouse_plumber_spark.operators.load",
    "lakehouse_plumber_spark.tables",
)


def _names(src: str) -> set[str]:
    """The global and attribute names the code of `src` loads; SQL text in
    a string literal loads none."""
    todo, names = [compile(src, "<script>", "exec")], set()
    while todo:
        code = todo.pop()
        names.update(code.co_names)
        todo += [c for c in code.co_consts if isinstance(c, types.CodeType)]
    return names


@functools.lru_cache(maxsize=None)
def _prelude_index() -> dict:
    """name -> engine module of every function and constant a script may
    carry, in copy order."""
    import importlib

    index = {}
    for module in _PRELUDE:
        mod = importlib.import_module(module)
        names = (*getattr(mod, "STANDALONE_CONSTANTS", ()), *mod.STANDALONE_FUNCTIONS)
        index.update(dict.fromkeys(names, mod))
    return index


@functools.lru_cache(maxsize=None)
def _prelude_item(name: str) -> tuple[str, str, frozenset]:
    """(source module, source text, names it loads) of one copied name."""
    import inspect

    mod = _prelude_index()[name]
    obj = getattr(mod, name)
    if name in getattr(mod, "STANDALONE_CONSTANTS", ()):
        return mod.__name__, f"{name} = {obj!r}", frozenset()
    text = inspect.getsource(obj).rstrip()
    return obj.__module__, text, frozenset(_names(text))


@functools.lru_cache(maxsize=1024)  # a recompile meets the same scripts again
def _prelude(script: str) -> str:
    """The module-level block of the engine functions `script` calls and
    the functions those call; empty when it calls none."""
    index = _prelude_index()
    need: set[str] = set()
    todo = [n for n in _names(script) if n in index]
    while todo:
        n = todo.pop()
        if n not in need:
            need.add(n)
            todo += [m for m in _prelude_item(n)[2] if m in index]
    if not need:
        return ""
    chosen = [n for n in index if n in need]
    head = _HEADER.splitlines()
    lines = ["# The engine's own functions, copied verbatim at compile time from:"]
    lines += dict.fromkeys("# " + _prelude_item(n)[0].replace(".", "/") + ".py" for n in chosen)
    lines += dict.fromkeys(i for n in chosen for i in index[n].STANDALONE_IMPORTS if i not in head)
    return "\n".join(lines) + "".join("\n\n\n" + _prelude_item(n)[1] for n in chosen) + "\n\n"


@functools.lru_cache(maxsize=None)
def _scd_config_fields() -> tuple[str, ...]:
    """The `cfg.` fields the SCD functions read."""
    import inspect

    from lakehouse_plumber_spark.operators import cdc

    return tuple(sorted({
        m for fn in cdc.STANDALONE_FUNCTIONS
        for m in re.findall(r"\bcfg\.(\w+)", inspect.getsource(getattr(cdc, fn)))
    }))


def _emit_scd_apply(cfg) -> list[str]:
    """Lines turning `_ev` (raw events plus an `_PRIO` ordinal) into the
    visible SCD table `_out`, through the engine functions that
    `_prelude` copies — the same dedup and rebuild the engine's merge
    runs, over all events instead of one batch and the affected keys' log."""
    lines = ["    _cdc = CDCConfig("]
    lines += [f"        {f}={getattr(cfg, f)!r}," for f in _scd_config_fields()]
    lines += [
        "    )",
        "    _dc = _data_columns(_ev.columns, _cdc)",
        "    _ev = _dedup_key_seq(_prepare_events(_ev, _cdc, _dc), _cdc)",
    ]
    if cfg.scd_type == 2:
        return lines + [
            "    _out = (_rebuild_scd2(_ev.drop(_PRIO), _cdc, _dc)",
            "            .filter(~F.col(TOMBSTONE)).drop(TOMBSTONE, EVENT_DEL))",
        ]
    return lines + [
        "    _out = (_rebuild_scd1(_forward_fill_nulls(_ev, _cdc, _dc), _cdc, _dc)",
        "            .filter(~F.col(TOMBSTONE)).drop('__seq', TOMBSTONE))",
    ]


def _clustered_write(wt, call: str, path: str, df: str, pad: str = "    ") -> list[str]:
    """Lines writing `df` to `path` through `call` (`swap_overwrite` or
    `append_path`) in the cluster layout write.py:_clustered_for_write
    picks, decided at compile time: a partitioned target sorts within files
    on its cluster columns, after the co-location shuffle; cluster_by_auto
    with >= 2 columns lays the persisted frame out in Morton order, so its
    source runs once; other cluster columns sort within write tasks."""
    pcols, ccols = list(wt.partition_columns or []), list(wt.cluster_columns or [])
    if pcols:
        return [f"{pad}{call}({path}, {df}, {pcols!r}{f', {ccols!r}' if ccols else ''})"]
    if wt.cluster_by_auto and len(ccols) >= 2:
        return [f"{pad}_src = {df}.persist()",
                f"{pad}{call}({path}, morton_layout(_src, {ccols!r}))",
                f"{pad}_src.unpersist()"]
    if ccols:
        df += f".sortWithinPartitions(*{ccols!r})"
    return [f"{pad}{call}({path}, {df})"]


def _emit_cdc_merge(a: Action) -> list[str]:
    """CDC streaming-table write: a foreachBatch body appends raw events to
    an append-only table, then `_emit_scd_apply` rebuilds the visible
    SCD1/SCD2 table from all of them with the engine's functions (reference
    emits create_auto_cdc_flow at templates/write/streaming_table.py.j2:45)."""
    wt = a.write_target
    cfg = wt.cdc_config
    if cfg is None:
        raise NotImplementedError(f"cdc write {a.name!r} missing cdc_config")
    name = wt.full_name
    ident = _py_ident(a.name)
    lines = [
        f"    df = views[{str(a.source)!r}]",
        f"    _ev_path_{ident} = os.path.join(out_dir, '_cdc_events', {name.replace('.', '/')!r})",
        f"    _snap_path_{ident} = _tbl_path({name!r})",
        "    # monotone append ordinal: conflicting re-runs with the same",
        "    # (key, sequence) resolve to the NEWEST append, matching the",
        "    # engine's _dedup_key_seq batch-priority rule (operators/cdc.py).",
        "    # Probe the prior max ONCE per run (this run is the dir's only",
        "    # writer) and count in the driver closure — no per-batch rescan.",
        "    try:",
        f"        _p0_{ident} = spark.read.option('mergeSchema', 'true').parquet(_ev_path_{ident})",
        f"        _prev_{ident} = (_p0_{ident}.agg(F.max('__prio')).first()[0]",
        f"                         if '__prio' in _p0_{ident}.columns else None)",
        "    except Exception:",
        f"        _prev_{ident} = None",
        f"    _prio_{ident} = [_prev_{ident} if _prev_{ident} is not None else -1]",
        f"    def _append_events_{ident}(batch_df, _epoch):",
        f"        _prio_{ident}[0] += 1",
        f"        (batch_df.withColumn('__prio', F.lit(_prio_{ident}[0]))",
        f"         .write.mode('append').parquet(_ev_path_{ident}))",
        f"    for_each_batch(df, _append_events_{ident}, _ckpt({a.name!r}))",
        "    # merge body: rebuild the visible snapshot from ALL raw events —",
        "    # late/out-of-order arrivals splice in exactly (event-sourced CDC)",
        f"    _ev = spark.read.option('mergeSchema', 'true').parquet(_ev_path_{ident})",
        "    # the append ordinal is the engine's batch priority; events appended",
        "    # by pre-__prio script versions read as null and rank below every",
        "    # stamped append",
        "    _ev = (_ev.withColumn(_PRIO, F.coalesce(F.col('__prio'), F.lit(-1))).drop('__prio')",
        "           if '__prio' in _ev.columns else _ev.withColumn(_PRIO, F.lit(-1)))",
    ]
    pcols = f", {list(wt.partition_columns)!r}" if wt.partition_columns else ""
    return lines + _emit_scd_apply(cfg) + [
        f"    swap_overwrite(_snap_path_{ident}, _out{pcols})",
        f"    written[{name!r}] = spark.read.parquet(_snap_path_{ident})",
    ]


def _emit_snapshot_cdc(a: Action) -> list[str]:
    """snapshot_cdc streaming-table write: pull (df, version) snapshots,
    accumulate them in an append-only snapshots table, derive upsert/delete
    events from presence transitions, then apply them with the engine's
    functions under the engine's own config mapping
    (operators/cdc.py:snapshot_cdc_config; reference emits
    create_auto_cdc_from_snapshot_flow, streaming_table.py.j2:114).

    Delete derivation: a key absent from snapshot v but present in the
    previous version gets one delete event at v — identical to the engine's
    sequential 'open keys missing from this snapshot' rule, including
    re-insert after delete. The presence grid is |keys| x |versions|;
    snapshot version counts are small and bounded, so the grid is ~the
    events table itself.
    """
    wt = a.write_target
    cfg = wt.snapshot_cdc_config
    if cfg is None:
        raise NotImplementedError(f"snapshot_cdc write {a.name!r} missing snapshot_cdc_config")
    name = wt.full_name
    ident = _py_ident(a.name)
    keys = list(cfg.keys)
    lines: list[str] = [
        f"    _ev_path_{ident} = os.path.join(out_dir, '_snapshots', {name.replace('.', '/')!r})",
        f"    _snap_path_{ident} = _tbl_path({name!r})",
    ]
    # 1. acquire snapshots
    if cfg.source_callable is not None:
        lines.extend(_emit_callable_source(cfg.source_callable))
        fn_expr = cfg.source_callable.__name__
    elif cfg.source_function is not None:
        params = cfg.source_function.parameters or {}
        lines += [
            f"    _mod_{ident} = _load_module({cfg.source_function.file!r}, 'gen_snap_{ident}')",
            f"    _raw_{ident} = _mod_{ident}.{cfg.source_function.function}",
            f"    _params_{ident} = {params!r}",
            f"    def _snapfn_{ident}(v):",
            f"        return _raw_{ident}(v, **_params_{ident}) if _params_{ident} else _raw_{ident}(v)",
        ]
        fn_expr = f"_snapfn_{ident}"
    else:
        fn_expr = None
    # every OBSERVED version is recorded in a sidecar: an EMPTY snapshot
    # appends no parquet rows, but its version must still enter the presence
    # grid or the deletes it implies (all keys vanished) are silently missed
    lines += [
        "    import json as _json",
        f"    _vfile_{ident} = os.path.join(out_dir, '_snapshots_meta', {name!r} + '.json')",
        f"    def _record_version_{ident}(_v):",
        f"        os.makedirs(os.path.dirname(_vfile_{ident}), exist_ok=True)",
        f"        _seen = _json.load(open(_vfile_{ident})) if os.path.exists(_vfile_{ident}) else []",
        "        if _v not in _seen:",
        "            _seen.append(_v)",
        f"            with open(_vfile_{ident} + '.tmp', 'w') as _fh:",
        "                _json.dump(_seen, _fh)",
        f"            os.replace(_vfile_{ident} + '.tmp', _vfile_{ident})",
        f"    _snap_schema_{ident} = None",
    ]
    if fn_expr is not None:
        lines += [
            "    _latest = None",
            "    while True:",
            f"        _res = {fn_expr}(_latest)",
            "        if _res is None:",
            "            break",
            "        _snap_df, _version = _res",
            f"        _snap_schema_{ident} = _snap_df.schema",
            "        (_snap_df.withColumn('__snapshot_version', F.lit(_version))",
            f"         .write.mode('append').parquet(_ev_path_{ident}))",
            f"        _record_version_{ident}(_version)",
            "        _latest = _version",
        ]
    else:
        lines += [
            f"    _snap_df = views[{str(cfg.source)!r}]",
            f"    _snap_schema_{ident} = _snap_df.schema",
            "    (_snap_df.withColumn('__snapshot_version', F.lit(0))",
            f"     .write.mode('append').parquet(_ev_path_{ident}))",
            f"    _record_version_{ident}(0)",
        ]
    lines += [
        "    try:",
        f"        _snaps = spark.read.parquet(_ev_path_{ident})",
        "    except Exception:",
        "        # every snapshot so far was empty: no parquet rows exist, but",
        "        # the recorded versions still drive an (empty) rebuild",
        f"        if _snap_schema_{ident} is None:",
        "            raise",
        "        _snaps = (spark.createDataFrame([], _snap_schema_" + ident + ")",
        "                  .withColumn('__snapshot_version', F.lit(None).cast('long')))",
        "    # presence grid -> delete events at present->absent transitions;",
        "    # the version axis is the RECORDED list (includes empty snapshots)",
        f"    _seen_vs = _json.load(open(_vfile_{ident})) if os.path.exists(_vfile_{ident}) else []",
        "    _versions = spark.createDataFrame([(v,) for v in _seen_vs], ['__snapshot_version']) \\",
        "        if _seen_vs else _snaps.select('__snapshot_version').distinct()",
        "    _versions = _versions.select(F.col('__snapshot_version')",
        "                                 .cast(dict(_snaps.dtypes)['__snapshot_version']))",
        f"    _grid = _snaps.select(*{keys!r}).distinct().crossJoin(_versions)",
        f"    _present = _snaps.select(*{keys!r}, '__snapshot_version').withColumn('__p', F.lit(True))",
        f"    _grid = _grid.join(_present, on={keys!r} + ['__snapshot_version'], how='left')",
        "    _grid = _grid.withColumn('__p', F.coalesce(F.col('__p'), F.lit(False)))",
        f"    _wg = Window.partitionBy(*{keys!r}).orderBy('__snapshot_version')",
        "    _dels = (_grid.withColumn('__was', F.coalesce(F.lag('__p').over(_wg), F.lit(False)))",
        "             .filter('NOT __p AND __was')",
        f"             .select(*{keys!r}, '__snapshot_version'))",
        f"    _vcols = [c for c in _snaps.columns if c not in {keys!r} and c != '__snapshot_version']",
        "    _dels = _dels.select('*', *[F.lit(None).cast(_snaps.schema[c].dataType).alias(c)",
        "                                for c in _vcols])",
        "    # one batch: duplicate (key, version) rows resolve by the engine's",
        "    # dedup order, as they do within one snapshot there",
        "    _ev = (_snaps.withColumn('__deleted', F.lit(False))",
        "           .unionByName(_dels.withColumn('__deleted', F.lit(True)))",
        "           .withColumn(_PRIO, F.lit(0)))",
    ]
    from lakehouse_plumber_spark.operators.cdc import snapshot_cdc_config

    return lines + _emit_scd_apply(snapshot_cdc_config(cfg)) + [
        f"    swap_overwrite(_snap_path_{ident}, _out)",
        f"    written[{name!r}] = spark.read.parquet(_snap_path_{ident})",
    ]


def _emit_expectations(a: Action, ident: str) -> tuple[list, list[str]]:
    """The action's expectations — inline, or an expectations_file loaded at
    compile time against `base_dir`, since the script cannot resolve
    spec-relative paths — and the lines building them as literals."""
    from lakehouse_plumber_spark.expectations import load_expectations_file, parse_expectations

    base = _compile_base_dir.get()
    if a.expectations_inline is not None:
        exps = parse_expectations(a.expectations_inline)
    elif a.expectations_file and base is not None:
        exps = load_expectations_file(os.path.join(base, a.expectations_file))
    else:
        raise NotImplementedError(
            f"data_quality {a.name!r}: needs inline expectations, or pass base_dir to "
            "compile_flowgroup so expectations_file resolves at compile time"
        )
    return exps, [f"    _exps_{ident} = ["] + [
        f"        Expectation(name={e.name!r}, constraint={e.constraint!r}, action={e.action!r}),"
        for e in exps
    ] + ["    ]"]


def _emit_quarantine(a: Action) -> list[str]:
    """data_quality quarantine (reference data_quality_quarantine.py.j2,
    batch and streaming) through the engine's `quarantine_split` and
    `_parse_and_revalidate`. With no store change feed, fixes come in
    through a FIX INBOX: parquet files of (_dlq_sk, _row_data) dropped under
    `<out_dir>/_dlq_fixes/<table>/`. Each run appends new DLQ rows
    (insert-only on `_dlq_sk`), consumes unseen fix files into an outbox of
    first-time, re-validated fixes, and returns clean ∪ outbox; a stream
    merges per micro-batch (replay-guarded) into a staging table that
    downstream streams from, as the engine's run_quarantine does."""
    qcfg = a.quarantine
    if qcfg is None:
        raise NotImplementedError(f"quarantine {a.name!r} missing quarantine config")
    dlq = qcfg.dlq_table.replace(".", "/")
    ident = _py_ident(a.name)
    lines = [f"    df = views[{str(a.source)!r}]"] + _emit_expectations(a, ident)[1] + [
        f"    _dlq_path_{ident} = os.path.join(out_dir, '_dlq', {dlq!r})",
        f"    _fix_path_{ident} = os.path.join(out_dir, '_dlq_fixes', {dlq!r})",
        f"    _outbox_path_{ident} = os.path.join(out_dir, '_dlq_outbox', {dlq!r})",
        f"    _consumed_{ident} = os.path.join(_fix_path_{ident}, '_consumed')",
        f"    def _q_merge_{ident}(_bdf):  # one (micro-)batch; returns its clean rows",
        f"        _clean_b, _bad_b = quarantine_split(_bdf, _exps_{ident}, "
        f"{qcfg.source_table or str(a.source)!r})",
        "        # insert-only merge on the content hash: re-runs re-quarantine nothing",
        f"        if os.path.isdir(_dlq_path_{ident}):",
        f"            _seen = spark.read.parquet(_dlq_path_{ident}).select('_dlq_sk')",
        "            _bad_b = _bad_b.join(_seen, on='_dlq_sk', how='left_anti')",
        f"        _bad_b.write.mode('append').parquet(_dlq_path_{ident})",
        "        return _clean_b",
        f"    def _q_consume_fixes_{ident}(_schema):  # new fix files, each consumed once",
        f"        os.makedirs(_fix_path_{ident}, exist_ok=True)",
        f"        _done = set(open(_consumed_{ident}).read().split()) if os.path.exists(_consumed_{ident}) else set()",
        f"        _new_files = sorted(f for f in os.listdir(_fix_path_{ident})",
        "                            if f.endswith('.parquet') and f not in _done)",
        "        if not _new_files:",
        "            return None",
        f"        _fixes = spark.read.parquet(*[os.path.join(_fix_path_{ident}, f) for f in _new_files])",
        "        _fixes = _fixes.dropDuplicates(['_dlq_sk'])",
        f"        if os.path.isdir(_outbox_path_{ident}):  # first-time fixes only",
        f"            _prior = spark.read.parquet(_outbox_path_{ident}).select('_dlq_sk')",
        "            _fixes = _fixes.join(_prior, on='_dlq_sk', how='left_anti')",
        f"        _typed = _parse_and_revalidate(_fixes, _schema, _exps_{ident}, keep=('_dlq_sk',))",
        f"        _typed.write.mode('append').parquet(_outbox_path_{ident})",
        f"        with open(_consumed_{ident}, 'a') as _fh:",
        "            _fh.write('\\n'.join(_new_files) + '\\n')",
        "        return _typed.drop('_dlq_sk')",
        "    if df.isStreaming:",
        f"        _stage_path_{ident} = os.path.join(out_dir, '_dlq_staging', {dlq!r})",
        f"        def _one_batch_{ident}(_bdf, _epoch):",
        f"            _q_merge_{ident}(_bdf).write.mode('append').parquet(_stage_path_{ident})",
        f"        _schema_{ident} = df.schema",
        f"        for_each_batch(df, _one_batch_{ident}, _ckpt({a.name!r}), guard=True)",
        f"        _rec = _q_consume_fixes_{ident}(_schema_{ident})",
        "        if _rec is not None:",
        f"            _rec.write.mode('append').parquet(_stage_path_{ident})",
        f"        if not os.path.isdir(_stage_path_{ident}):  # so the stream below binds",
        f"            spark.createDataFrame([], _schema_{ident}).write.mode('overwrite').parquet(_stage_path_{ident})",
        "        # stream in -> stream out, as in the engine",
        f"        df = spark.readStream.schema(_schema_{ident}).parquet(_stage_path_{ident})",
        "    else:",
        f"        _clean = _q_merge_{ident}(df)",
        f"        _q_consume_fixes_{ident}(df.schema)",
        f"        if os.path.isdir(_outbox_path_{ident}):",
        f"            _recycled = spark.read.parquet(_outbox_path_{ident}).drop('_dlq_sk')",
        "            df = _clean.unionByName(_recycled)",
        "        else:",
        "            df = _clean",
    ]
    return lines + _register(a.target)


def _emit_incremental_mv(a: Action) -> list[str]:
    """Incremental MV: the input drains into a staging table (checkpointed,
    replay-guarded) and the MV is `finalize_partials` of `batch_partials`
    over all of it (`recompute_aggs` for non-mergeable aggregates)."""
    from lakehouse_plumber_spark.operators.incremental import non_mergeable_aggs, parse_aggs

    wt = a.write_target
    cfg = wt.incremental_config
    if cfg is None:
        raise NotImplementedError(f"incremental MV {a.name!r} missing incremental_config")
    name = wt.full_name
    ident = _py_ident(a.name)
    gb = list(cfg.group_by)
    lines = [
        f"    df = views[{str(a.source)!r}]",
        f"    _stage_{ident} = os.path.join(out_dir, '_imv_staging', {name.replace('.', '/')!r})",
        f"    _mv_path_{ident} = _tbl_path({name!r})",
        f"    for_each_batch(df, lambda b, _e: b.write.mode('append').parquet(_stage_{ident}),",
        f"                   _ckpt({a.name!r}), guard=True)",
        f"    _all = spark.read.parquet(_stage_{ident})",
    ]
    if non_mergeable_aggs(cfg.aggs):
        lines.append(f"    _mv = recompute_aggs(_all, {gb!r}, {dict(cfg.aggs)!r})")
        lines += _clustered_write(wt, "swap_overwrite", f"_mv_path_{ident}", "_mv")
    else:
        parsed = parse_aggs(cfg.aggs)
        pcols = f", {list(wt.partition_columns)!r}" if wt.partition_columns else ""
        lines += [f"    _mv = finalize_partials(batch_partials(_all, {gb!r}, {parsed!r}), "
                  f"{gb!r}, {parsed!r})",
                  f"    swap_overwrite(_mv_path_{ident}, _mv{pcols})"]
    return lines + [f"    written[{name!r}] = spark.read.parquet(_mv_path_{ident})"]


def _emit_sink(a: Action) -> list[str]:
    """Sink write (reference write/sink.py:20-64 -> sink templates)."""
    wt = a.write_target
    sink = wt.sink_type.value if wt.sink_type else "delta"
    ident = _py_ident(a.name)
    lines = [f"    df = views[{str(a.source)!r}]"]
    if sink == "delta":
        path = wt.path or (wt.options or {}).get("path")
        target = f"os.path.join(out_dir, {str(path)!r})" if path else f"_tbl_path({(wt.table or a.name)!r})"
        lines += [
            f"    _sink_path_{ident} = {target}",
            f"    for_each_batch(df, lambda b, _e: b.write.mode('append').parquet(_sink_path_{ident}),",
            f"                   _ckpt({a.name!r}))",
        ]
        return lines
    if sink == "kafka":
        sim = (wt.options or {}).get("simulate_path")
        lines += [
            "    if 'value' not in df.columns:",
            "        raise ValueError('kafka sink requires a value column')",
        ]
        if sim:
            lines += [
                f"    _out = df.select(*[c for c in ('key', 'value') if c in df.columns], F.lit({wt.topic!r}).alias('topic'))",
                f"    _sim_{ident} = os.path.join(out_dir, {str(sim)!r})",
                "    if _out.isStreaming:",
                f"        run_available_now(_out.writeStream.format('parquet').option('path', _sim_{ident}),",
                f"                          _ckpt({a.name!r}))",
                "    else:",
                f"        _out.write.mode('append').parquet(_sim_{ident})",
            ]
        else:
            opts = {k: str(v) for k, v in (wt.options or {}).items()}
            lines += [
                "    _w = (df.writeStream if df.isStreaming else df.write).format('kafka')",
                f"    _w = _w.option('kafka.bootstrap.servers', {(wt.bootstrap_servers or '')!r})",
                f"    _w = _w.option('topic', {(wt.topic or '')!r})",
                f"    for _k, _v in {opts!r}.items():",
                "        _w = _w.option(_k, _v)",
                "    if df.isStreaming:",
                f"        run_available_now(_w, _ckpt({a.name!r}))",
                "    else:",
                "        _w.save()",
            ]
        return lines
    if sink == "foreachbatch":
        handler = wt.batch_handler_callable
        if handler is not None:
            lines.extend(_emit_callable_source(handler))
            fn_expr = handler.__name__
        elif wt.batch_handler:
            lines += [
                f"    _mod_{ident} = _load_module({wt.batch_handler!r}, 'gen_fb_{ident}')",
                f"    _h_{ident} = getattr(_mod_{ident}, 'handle_batch', None) or _mod_{ident}.batch_handler",
            ]
            fn_expr = f"_h_{ident}"
        else:
            raise NotImplementedError(f"foreachbatch sink {a.name!r}: no handler")
        lines.append(f"    for_each_batch(df, {fn_expr}, _ckpt({a.name!r}))")
        return lines
    if sink == "custom":
        if not wt.module_path or not wt.custom_sink_class:
            raise NotImplementedError(f"custom sink {a.name!r}: needs module_path + custom_sink_class")
        opts = {k: str(v) for k, v in (wt.options or {}).items()}
        lines += [
            f"    _mod_{ident} = _load_module({wt.module_path!r}, 'gen_ds_{ident}')",
            f"    _cls_{ident} = _mod_{ident}.{wt.custom_sink_class}",
            f"    spark.dataSource.register(_cls_{ident})",
            f"    _w = (df.writeStream if df.isStreaming else df.write).format(_cls_{ident}.name())",
            f"    for _k, _v in {opts!r}.items():",
            "        _w = _w.option(_k, _v)",
            "    if df.isStreaming:",
            f"        run_available_now(_w, _ckpt({a.name!r}))",
            "    else:",
            "        _w.mode('append').save()",
        ]
        return lines
    raise NotImplementedError(f"sink type {sink!r} for action {a.name!r}")


def _wrap_spark_conf(lines: list[str], a: Action) -> list[str]:
    """Per-table `spark_conf` (reference _action.py:35 — "apply on the
    writing query"): generated code sets the pairs around the write action
    and restores them after, exactly like the engine's _with_spark_conf
    (operators/write.py). Wrapping the whole action body is behaviorally
    equivalent: everything before the write is lazy plan construction, so
    the conf is in force for every job the write triggers."""
    conf = dict((a.write_target and a.write_target.spark_conf) or {})
    if not conf:
        return lines
    ident = _py_ident(a.name)
    head, body = lines[:1], lines[1:]  # keep the "# action:" comment outside
    return head + [
        f"    _conf_old_{ident} = {{}}",
        f"    for _k, _v in {conf!r}.items():",
        "        try:",
        f"            _conf_old_{ident}[_k] = spark.conf.get(_k)",
        "        except Exception:",
        f"            _conf_old_{ident}[_k] = None",
        "        spark.conf.set(_k, str(_v))",
        "    try:",
        *["    " + ln if ln.strip() else ln for ln in body],
        "    finally:",
        f"        for _k, _v in _conf_old_{ident}.items():",
        "            spark.conf.unset(_k) if _v is None else spark.conf.set(_k, _v)",
    ]


def _compile_action(a: Action) -> list[str]:
    lines: list[str] = [f"    # action: {a.name} ({a.sub_type})"]
    kind = a.sub_type

    if a.type == ActionType.LOAD and kind in ("sql", "delta"):
        if kind == "sql":
            q = a.source.get("sql") if isinstance(a.source, dict) else None
            lines.append(f"    df = spark.sql({q!r})")
        else:
            src = a.source if isinstance(a.source, dict) else {}
            table = src.get("table")
            lines.append(f"    df = spark.table({table!r})")
            for w in src.get("where_clause") or []:
                lines.append(f"    df = df.where({w!r})")
            if src.get("select_columns"):
                lines.append(f"    df = df.select(*{src['select_columns']!r})")
        return lines + _register(a.target)

    if a.type == ActionType.LOAD and kind == "cloudfiles":
        from pyspark.errors import PySparkRuntimeError

        from lakehouse_plumber_spark.operators.load import cloudfiles_options
        from lakehouse_plumber_spark.schema_parser import coerce_schema

        src = a.source if isinstance(a.source, dict) else {}
        fmt, opts, rescue = cloudfiles_options(src)
        ident, path = _py_ident(a.name), repr(src.get("path"))
        stream = (a.readMode or "stream") == "stream"
        lines.append(f"    _opts_{ident} = {opts!r}")
        if stream:
            lines.append(f"    _path_{ident}, _opts_{ident} = file_stream_path({path}, _opts_{ident})")
            path = f"_path_{ident}"
        declared, base = src.get("schema"), _compile_base_dir.get()
        if not declared and src.get("schema_file"):
            declared = src["schema_file"] if base is None else os.path.join(base, src["schema_file"])
        if isinstance(declared, str) and not declared.endswith((".yaml", ".yml", ".ddl", ".sql")):
            parsed = f"T._parse_datatype_string({declared!r})"  # coerce_schema's DDL parser
        elif declared:
            try:
                parsed = f"T.StructType.fromJson({coerce_schema(declared).jsonValue()!r})"
            except PySparkRuntimeError as e:  # a schema type only a Spark session parses
                raise NotImplementedError(f"cloudfiles load {a.name!r}: declare its schema as "
                                          f"DDL text to compile without Spark ({e})") from e
        if declared:
            lines.append(f"    _schema_{ident} = rescued_schema({parsed}, {rescue!r})")
        elif stream:  # file streams need a schema: infer once from a batch read
            lines.append(f"    _schema_{ident} = spark.read.format({fmt!r}).options(**_opts_{ident})"
                         f".load({path}).schema")
        reader = f"spark.{'readStream' if stream else 'read'}.format({fmt!r})"
        if declared or stream:
            reader += f".schema(_schema_{ident})"
        lines.append(f"    df = {reader}.options(**_opts_{ident}).load({path})")
        return lines + _register(a.target)

    if a.type == ActionType.LOAD and kind == "python":
        return lines + _emit_python_call(a, "load") + _register(a.target)

    if a.type == ActionType.TRANSFORM and (a.transform_type is None or a.transform_type.value == "sql"):
        lines.append(f"    df = spark.sql({a.sql!r})")
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "python":
        return lines + _emit_python_call(a, "transform") + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "temp_table":
        ident = _py_ident(a.name)
        src_view = str(a.source)
        if a.sql:
            lines.append(f"    df = spark.sql({a.sql!r})")
        else:
            lines.append(f"    df = views[{src_view!r}]")
        lines += [
            f"    _tmp_{ident} = os.path.join(out_dir, '_temp', {a.name!r})",
            "    # real barrier: materialize + re-read (cuts lineage, reused across",
            "    # flows); a stream appends its replay-guarded micro-batches",
            "    if df.isStreaming:",
            f"        for_each_batch(df, lambda b, _e: b.write.mode('append').parquet(_tmp_{ident}),",
            f"                       _ckpt({a.name!r}), guard=True)",
            "    else:",
            f"        df.write.mode('overwrite').parquet(_tmp_{ident})",
            f"    df = spark.read.parquet(_tmp_{ident})",
        ]
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "retrieval":
        # compile-time seam: the engine renders the resolved BM25 plan to
        # plain Spark SQL (llm/search.py:bm25_scored_sql), so the generated
        # file scores with no engine import; top-k stays DataFrame-side
        # (orderBy().limit() -> distributed TakeOrderedAndProject, then a
        # k-row rank window) exactly like the engine executor
        from lakehouse_plumber_spark.llm.search import bm25_scored_sql

        cfg = a.retrieval
        if cfg is None:
            raise NotImplementedError(
                f"retrieval transform {a.name!r}: missing `retrieval:` config"
            )
        if cfg.query_sets is not None:
            # RRF fusion composes multiple retrieval plans + a k-bounded
            # merge — run it through the engine, which executes the
            # verified rrf_fuse implementation
            raise NotImplementedError(
                f"retrieval transform {a.name!r}: query_sets fusion is not "
                "compilable to standalone source; run this flowgroup "
                "through PipelineRunner instead"
            )
        sql = bm25_scored_sql(
            str(a.source).replace(".", "__"), cfg.query_terms,
            k1=cfg.k1, b=cfg.b, text_col=cfg.text_col, id_col=cfg.id_col,
            plan=cfg.plan,
        )
        lines += [
            f"    df = spark.sql({sql!r})",
            f"    df = df.orderBy(F.desc('score'), F.asc('doc_id')).limit({cfg.k})",
            "    df = df.withColumn('rank', F.row_number().over(",
            "        Window.orderBy(F.desc('score'), F.asc('doc_id'))).cast('int'))",
            "    df = df.select('rank', 'doc_id', 'n_terms_hit', 'score')",
        ]
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "dedup":
        cfg = a.dedup
        if cfg is None:
            raise NotImplementedError(
                f"dedup transform {a.name!r}: missing `dedup:` config"
            )
        if cfg.method != "exact":
            # lines/minhash_survivors need multi-stage plans (posexplode
            # reassembly / LSH band joins + iterative connected components)
            # that have no faithful single-SQL rendering — run them through
            # the engine (PipelineRunner), which executes the verified
            # DataFrame implementations
            raise NotImplementedError(
                f"dedup transform {a.name!r}: method {cfg.method!r} is not "
                "compilable to standalone source; only 'exact' is — run "
                "this flowgroup through PipelineRunner instead"
            )
        # byte-identical normalization expression to llm/dedup.py:exact_dedup
        sql = (
            f"SELECT min({cfg.id_col}) AS {cfg.id_col}, "
            "CAST(count(*) AS BIGINT) AS dup_count "
            f"FROM (SELECT {cfg.id_col}, "
            f"md5(regexp_replace(lower(trim({cfg.text_col})), '\\\\s+', ' ')) AS __fp "
            f"FROM {str(a.source).replace('.', '__')}) GROUP BY __fp"
        )
        lines.append(f"    df = spark.sql({sql!r})")
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "sample":
        cfg = a.sample
        if cfg is None:
            raise NotImplementedError(
                f"sample transform {a.name!r}: missing `sample:` config"
            )
        if cfg.method not in ("hash_split", "stratified"):
            # mixture/temperature derive thresholds from runtime stratum
            # counts — run them through the engine, which executes the
            # verified implementations
            raise NotImplementedError(
                f"sample transform {a.name!r}: method {cfg.method!r} needs "
                "runtime stratum counts and is not compilable to standalone "
                "source; run this flowgroup through PipelineRunner instead"
            )
        view = str(a.source).replace(".", "__")

        def _q(s: str) -> str:  # SQL string literal (names are data)
            return "'" + str(s).replace("'", "''") + "'"

        # byte-identical bucket derivation to llm/sampling.py:_bucket_expr,
        # rendered to SQL text at COMPILE time via the same hashing module
        from lakehouse_plumber_spark.llm.hashing import md5int_spark

        bucket = (
            md5int_spark(f"concat('sample:', cast({cfg.id_col} as string))")
            + " % 1000000"
        )
        if cfg.method == "hash_split":
            items = sorted(cfg.weights.items())
            total = sum(cfg.weights.values())
            if len(items) == 1:
                case = _q(items[0][0])
            else:
                acc, whens = 0.0, []
                for nm, w in items[:-1]:
                    acc += w / total
                    whens.append(f"WHEN ({bucket}) < {int(acc * 1_000_000)} THEN {_q(nm)}")
                case = "CASE " + " ".join(whens) + f" ELSE {_q(items[-1][0])} END"
            sql = f"SELECT *, {case} AS {cfg.out_col} FROM {view}"
        else:
            whens = " ".join(
                f"WHEN {_q(k)} THEN {int(v * 1_000_000)}"
                for k, v in sorted(cfg.rates.items())
            )
            thr = (
                f"CASE {cfg.strata_col} {whens} "
                f"ELSE {int(cfg.default_rate * 1_000_000)} END"
            )
            sql = f"SELECT * FROM {view} WHERE ({bucket}) < {thr}"
        lines.append(f"    df = spark.sql({sql!r})")
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "knn":
        # every knn method is multi-stage (centroid training / PQ codebooks
        # / brute-force verify joins) with driver-bounded collected state —
        # no faithful single-SQL rendering exists; the boundary golden
        # (tests/baselines/extension_compile_boundary.txt.golden) pins this
        raise NotImplementedError(
            f"knn transform {a.name!r}: vector search is not compilable to "
            "standalone source (centroid/codebook state is computed at run "
            "time); run this flowgroup through PipelineRunner instead"
        )

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "multimodal":
        # Arrow-batched mapInPandas with a driver-resolved decoder seam —
        # the generated file cannot carry the engine's decoder registry
        raise NotImplementedError(
            f"multimodal transform {a.name!r}: binary-asset processing is "
            "not compilable to standalone source (Arrow mapInPandas with a "
            "driver-resolved decoder seam); run this flowgroup through "
            "PipelineRunner instead"
        )

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "text":
        cfg = a.text
        if cfg is None:
            raise NotImplementedError(
                f"text transform {a.name!r}: missing `text:` config"
            )
        if cfg.method not in ("token_count", "gopher_rules", "c4_rules"):
            # quality_score/lang_id/pii_redact compose column-list loops in
            # the operator (no single shared expr string); chunk is an
            # explode+window reassembly — run them through the engine,
            # which executes the verified implementations
            raise NotImplementedError(
                f"text transform {a.name!r}: method {cfg.method!r} is not "
                "compilable to standalone source; only token_count/"
                "gopher_rules/c4_rules are — run this flowgroup through "
                "PipelineRunner instead"
            )
        # the SAME expr strings the DataFrame operators evaluate
        # (llm/text.py:token_count_expr/gopher_struct_expr/c4_struct_expr),
        # rendered to SQL text at COMPILE time — both paths byte-identical
        from lakehouse_plumber_spark.llm.text import (
            GOPHER_MAX_MEAN_LEN,
            GOPHER_MAX_SYMBOL_RATIO,
            GOPHER_MAX_WORDS,
            GOPHER_MIN_ALPHA_FRAC,
            GOPHER_MIN_MEAN_LEN,
            GOPHER_MIN_STOPWORDS,
            c4_struct_expr,
            gopher_struct_expr,
            token_count_expr,
        )

        view = str(a.source).replace(".", "__")
        if cfg.method == "token_count":
            sql = (
                f"SELECT *, {token_count_expr(cfg.text_col)} AS n_tokens "
                f"FROM {view}"
            )
        elif cfg.method == "gopher_rules":
            g = gopher_struct_expr(cfg.text_col)
            sql = (
                f"SELECT {cfg.id_col}, "
                "CAST(g.n_words AS INT) AS n_words, "
                "round(g.mean_word_len, 6) AS mean_word_len, "
                "round(g.symbol_word_ratio, 6) AS symbol_word_ratio, "
                "round(g.alpha_word_frac, 6) AS alpha_word_frac, "
                "CAST(g.n_stopwords AS INT) AS n_stopwords, "
                f"(g.n_words BETWEEN {cfg.min_words} AND {GOPHER_MAX_WORDS} "
                f"AND g.mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN} "
                f"AND g.symbol_word_ratio < {GOPHER_MAX_SYMBOL_RATIO} "
                f"AND g.alpha_word_frac > {GOPHER_MIN_ALPHA_FRAC} "
                f"AND g.n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS keep "
                f"FROM (SELECT {cfg.id_col}, {g} AS g FROM {view})"
            )
        else:  # c4_rules
            g = c4_struct_expr(cfg.text_col, cfg.min_words_per_line)
            sql = (
                f"SELECT {cfg.id_col}, "
                "CAST(g.n_lines AS INT) AS n_lines, "
                "CAST(g.n_kept_lines AS INT) AS n_kept_lines, "
                "round(g.n_kept_lines / CAST(greatest(g.n_lines, 1) AS DOUBLE), 6) AS kept_frac, "
                "has_lorem, has_brace, "
                f"(g.n_kept_lines >= {cfg.min_kept_lines} "
                "AND NOT has_lorem AND NOT has_brace) AS keep "
                f"FROM (SELECT {cfg.id_col}, {g} AS g, "
                f"contains({cfg.text_col}, '{{') AS has_brace, "
                f"contains(lower({cfg.text_col}), 'lorem ipsum') AS has_lorem "
                f"FROM {view})"
            )
        lines.append(f"    df = spark.sql({sql!r})")
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "data_quality":
        if (a.mode or "dqe") == "quarantine":
            return lines + _emit_quarantine(a)
        ident = _py_ident(a.name)
        exps, exp_lines = _emit_expectations(a, ident)
        lines += [f"    df = views[{str(a.source)!r}]"] + exp_lines + [
            f"    df, _obs_{ident}, _fails_{ident} = apply_expectations("
            f"df, _exps_{ident}, {'dq_' + a.name!r})",
        ]
        written_views = _compile_written_views.get()
        if written_views is not None and str(a.target) not in written_views:
            # no write materializes this view: its Observation would never
            # fill and the footer's check would hang
            lines.append("    # NOTE: view not consumed by any write; fail-check not registered")
        elif any(e.action == "fail" for e in exps):
            lines.append(f"    _dq_checks.append(({a.name!r}, _obs_{ident}, _fails_{ident}))")
        return lines + _register(a.target)

    if a.type == ActionType.TRANSFORM and a.transform_type.value == "schema":
        # same three-shape normalization as the engine (arrow strings,
        # mapping/casting blocks, canonical dicts) — resolved at COMPILE
        # time so the generated source stays plain withColumnRenamed/cast
        from lakehouse_plumber_spark.operators.transform import _normalize_schema_columns

        cols = _normalize_schema_columns(a.schema_inline)
        lines.append(f"    df = views[{str(a.source)!r}]")
        for col in cols or []:
            if col.get("rename_from"):
                lines.append(
                    f"    df = df.withColumnRenamed({col['rename_from']!r}, {col['name']!r})"
                )
            if col.get("type"):
                lines.append(
                    f"    df = df.withColumn({col['name']!r}, F.col({col['name']!r}).cast({col['type']!r}))"
                )
        if (a.enforcement or "strict") == "strict":
            names = [c["name"] for c in cols or []]
            lines.append(f"    df = df.select(*{names!r})")
        return lines + _register(a.target)

    if a.type == ActionType.WRITE and a.write_target is not None:
        wt = a.write_target
        if wt.type.value in ("streaming_table", "materialized_view") and (
            wt.tags is not None or wt.tags_file
        ):
            # resolve tags at COMPILE time (reference uc_tagging_hook_generator
            # embeds the tag maps in the generated artifact); sidecar files
            # need the project base_dir, same seam as expectations_file
            if wt.tags_file:
                base = _compile_base_dir.get()
                if base is None:
                    raise NotImplementedError(
                        f"write {a.name!r} uses tags_file; compile with "
                        "base_dir so the sidecar resolves"
                    )
                from lakehouse_plumber_spark.schema_parser import parse_tags_file

                _, ttags, ctags = parse_tags_file(os.path.join(base, wt.tags_file))
            else:
                ttags = {
                    str(k): "" if v is None else str(v)
                    for k, v in (wt.tags or {}).items()
                }
                ctags = {}
            lines.append(
                f"    _uc_tags[{wt.full_name!r}] = ({ttags!r}, {ctags!r})"
            )
        if wt.type.value == "materialized_view":
            if wt.refresh_policy == "incremental" or wt.incremental_config is not None:
                return lines + _emit_incremental_mv(a)
            q = wt.sql or a.sql
            name = wt.full_name
            path_expr = f"_tbl_path({name!r})"
            if q:
                lines.append(f"    df = spark.sql({q!r})")
            else:
                lines.append(f"    df = views[{str(a.source)!r}]")
            if wt.row_filter:
                lines.append(f"    df = df.where({wt.row_filter!r})")
            lines += _clustered_write(wt, "swap_overwrite", path_expr, "df")
            lines.append(f"    written[{name!r}] = spark.read.parquet({path_expr})")
            return lines
        if wt.type.value == "streaming_table" and wt.mode == "standard":
            name = wt.full_name
            ident = _py_ident(a.name)
            lines += [
                f"    df = views[{str(a.source)!r}]",
                f"    _st_path_{ident} = _tbl_path({name!r})",
                f"    def _append_flow_{ident}(b, _e):",
                *_clustered_write(wt, "append_path", f"_st_path_{ident}", "b", pad="        "),
                "    # per-flow checkpoint: each append flow into the fan-in target",
                "    # tracks its own source offsets (reference",
                "    # streaming_table.py.j2:128-244 emits one append_flow each)",
                f"    for_each_batch(df, _append_flow_{ident}, _ckpt({a.name!r}), guard=True)",
            ]
            max_files = (wt.table_properties or {}).get("lhp.autoOptimize.maxFiles")
            if max_files is not None:
                # registered only, in the engine's tuple; the footer compacts
                # after every action (see _COMPACT), and sibling fan-in
                # registrations for one target merge by the engine's rule
                ccols = list(wt.cluster_columns or [])
                morton = bool(wt.cluster_by_auto and len(ccols) >= 2)
                lines += [
                    f"    _pc = ({a.name!r}, {int(max_files)}, {ccols!r}, {morton!r})",
                    f"    _pending_compact[{name!r}] = merge_compaction("
                    f"_pending_compact.get({name!r}, _pc), _pc)",
                ]
            lines.append(f"    written[{name!r}] = spark.read.parquet(_st_path_{ident})")
            return lines
        if wt.type.value == "streaming_table" and wt.mode == "cdc":
            return lines + _emit_cdc_merge(a)
        if wt.type.value == "streaming_table" and wt.mode == "snapshot_cdc":
            return lines + _emit_snapshot_cdc(a)
        if wt.type.value == "sink":
            return lines + _emit_sink(a)

    raise NotImplementedError(
        f"compile_flowgroup: no source emitter for action {a.name!r} "
        f"({a.sub_type}) — unrecognized action/write-mode combination; "
        f"run it with PipelineRunner"
    )


def compile_flowgroup(fg: FlowGroup, base_dir: str | None = None) -> str:
    """Render the flowgroup as standalone PySpark source text.

    `base_dir` resolves spec-relative files (expectations_file) at compile
    time so the generated script stays self-contained."""
    token = _compile_base_dir.set(base_dir)
    wtoken = _compile_written_views.set(_views_feeding_writes(fg.actions))
    try:
        body: list[str] = []
        for a in topo_sort(fg.actions):
            lines = _compile_action(a)
            if a.type == ActionType.WRITE:
                lines = _wrap_spark_conf(lines, a)
            body += lines + [""]
        body_text = "\n".join(body)
        used = [r for r in _REGISTRIES if re.search(rf"^\s+{r[0]}\W", body_text, re.M)]
        body_text = "".join(f"    {n} = {empty}\n" for n, empty, _ in used) + body_text
        build = "\n".join([_BUILD, body_text, *[p for _, _, p in used], "    return written\n"])
        head = _HEADER.format(pipeline=fg.pipeline, flowgroup=fg.flowgroup)
        if "_load_module(" in build:
            head = head.replace("\nimport os\n", "\nimport importlib.util\nimport os\n") + _LOAD_MODULE
        return "\n".join(p for p in (head, _prelude(build), build) if p)
    finally:
        _compile_written_views.reset(wtoken)
        _compile_base_dir.reset(token)


def compile_flowgroup_result(fg: FlowGroup, base_dir: str | None = None):
    """Process-pool-safe wrapper for the CLI's parallel compile (it must be
    importable by package path — spawn children cannot resolve the CLI's
    __main__ module). Returns (pipeline, flowgroup, src, err): the
    NotImplementedError crosses the process boundary as a string so one
    uncompilable flowgroup skips one file instead of killing the pool."""
    try:
        return fg.pipeline, fg.flowgroup, compile_flowgroup(fg, base_dir=base_dir), None
    except NotImplementedError as e:
        return fg.pipeline, fg.flowgroup, None, str(e)
