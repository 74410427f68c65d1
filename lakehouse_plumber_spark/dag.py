"""Intra-flowgroup dependency resolution: view graph -> topological action order.

Reference behavior (src/lhp/core/dependencies/dependency_resolver.py:25-177):
build edges from action.source view names to the action producing that view,
topo-sort, detect cycles and orphans. Implemented as a plain Kahn sort — no
networkx needed at this scope.
"""

from __future__ import annotations

import functools
import os
import re
from collections import defaultdict, deque
from typing import Callable, Optional

from lakehouse_plumber_spark.models import Action, ActionType
from lakehouse_plumber_spark.reporting import result_table


class CycleError(ValueError):
    pass


@functools.lru_cache(maxsize=4096)
def sql_table_refs(sql: str) -> frozenset[str]:
    """Table/view identifiers read by a SQL string.

    Reference extracts reads with sqlglot + byte-exact token masking
    (src/lhp/core/dependencies/sql_extraction.py:1-59); sqlglot is not on
    this image, so this is a masked-token scan: strip comments and string
    literals, then take identifiers after FROM/JOIN (skipping subqueries)
    plus `stream(ident)` refs. CTE names are excluded.

    Memoized on the text: one action's SQL is asked for on every
    `Action.source_views` call (topo sort, graph checks, stage and lane
    computation), and the answer is immutable so no caller can alter it.
    """
    masked = re.sub(r"--[^\n]*", " ", sql)
    masked = re.sub(r"/\*.*?\*/", " ", masked, flags=re.S)
    # dynamic-SQL constructs carry their table ref as a QUOTED string —
    # extract before literal masking destroys them (reference parity:
    # IDENTIFIER('fqn') and table_changes('fqn', v) refs feed the dep graph
    # and the sandbox rewrite; testing_project/19_dependency_bindings)
    dynamic = {
        m.group(1)
        for m in re.finditer(
            r"\b(?:IDENTIFIER|table_changes)\s*\(\s*'([A-Za-z_][\w.]*)'",
            masked,
            re.I,
        )
    }
    masked = re.sub(r"'(?:[^'\\]|\\.)*'", "''", masked)
    ctes = {m.group(1).lower() for m in re.finditer(r"(?:WITH|,)\s*([A-Za-z_][\w]*)\s+AS\s*\(", masked, re.I)}
    refs: set[str] = set()
    # `(?!\s*\()` skips table functions like stream(...) — handled below
    for m in re.finditer(r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w.]*)\b(?!\s*\()", masked, re.I):
        name = m.group(1)
        if name.lower() not in ctes and name.lower() not in ("lateral", "unnest", "values"):
            refs.add(name)
    for m in re.finditer(r"\bstream\s*\(\s*([A-Za-z_][\w.]*)\s*\)", masked, re.I):
        refs.add(m.group(1))
    refs |= {d for d in dynamic if d.lower() not in ctes}
    return frozenset(refs)


class ValidationError(ValueError):
    pass


def topo_sort(actions: list[Action]) -> list[Action]:
    """Order actions so every consumed view is produced first.

    External references (views not produced inside the flowgroup — e.g.
    pre-registered tables) impose no ordering constraint.
    """
    producer: dict[str, int] = {}
    for i, a in enumerate(actions):
        view = a.produced_view()
        if view:
            if view in producer and actions[producer[view]].type != ActionType.WRITE:
                raise ValidationError(f"view {view!r} produced by more than one action")
            producer.setdefault(view, i)

    deps: dict[int, set[int]] = defaultdict(set)
    rdeps: dict[int, set[int]] = defaultdict(set)
    for i, a in enumerate(actions):
        for view in a.source_views():
            j = producer.get(view)
            if j is not None and j != i:
                deps[i].add(j)
                rdeps[j].add(i)

    indeg = {i: len(deps[i]) for i in range(len(actions))}
    # stable: seed queue in declaration order
    queue = deque(i for i in range(len(actions)) if indeg[i] == 0)
    order: list[int] = []
    while queue:
        i = queue.popleft()
        order.append(i)
        for j in sorted(rdeps[i]):
            indeg[j] -= 1
            if indeg[j] == 0:
                queue.append(j)
    if len(order) != len(actions):
        cyclic = [actions[i].name for i in range(len(actions)) if i not in set(order)]
        raise CycleError(f"dependency cycle among actions: {cyclic}")
    return [actions[i] for i in order]


def validate_flowgroup_graph(actions: list[Action]) -> list[str]:
    """Relationship checks (reference: §3.2 — orphaned transforms, ≥1 write, etc.).

    Returns a list of warning strings; raises ValidationError on hard errors.
    """
    warnings: list[str] = []
    has_write = any(a.type == ActionType.WRITE for a in actions)
    has_load = any(a.type == ActionType.LOAD for a in actions)
    self_contained = any(
        a.type == ActionType.WRITE
        and a.write_target is not None
        and (a.write_target.sql or a.write_target.sql_path or a.write_target.mode == "snapshot_cdc")
        for a in actions
    )
    if not has_write and not any(a.type == ActionType.TEST for a in actions):
        raise ValidationError("flowgroup must contain at least one write or test action")
    if not has_load and not self_contained and has_write:
        warnings.append("flowgroup has writes but no load actions and is not self-contained")

    # single table-creator per fan-in target (reference: compatibility/table_creation.py)
    creators: dict[str, int] = defaultdict(int)
    for a in actions:
        if a.type == ActionType.WRITE and a.write_target and a.write_target.type.value == "streaming_table":
            if a.write_target.create_table:
                creators[a.write_target.full_name] += 1
    for tbl, n in creators.items():
        if n > 1:
            raise ValidationError(f"multiple creators for streaming table {tbl!r} (set create_table: false on contributors)")

    validate_cdc_fanin(actions)
    for a in actions:
        for err in validate_cdc_schema(a):
            raise ValidationError(err)
    warnings.extend(_validate_action_configs(actions))

    topo_sort(actions)  # raises on cycles
    consumed = {v for a in actions for v in a.source_views()}
    for a in actions:
        if a.type == ActionType.TRANSFORM:
            v = a.produced_view()
            if v and v not in consumed:
                warnings.append(f"orphaned transform output view {v!r} ({a.name})")
    return warnings


def _validate_action_configs(actions: list[Action]) -> list[str]:
    """Per-action source-config checks at validation time (reference runs its
    field validators — cloudfiles option whitelist, kafka mandatory broker —
    during `lhp validate`, not first at generation/run time)."""
    warnings: list[str] = []
    for a in actions:
        wt = a.write_target
        if wt is not None and wt.cluster_by_auto:
            ccols = wt.cluster_columns or []
            if len(ccols) < 2:
                warnings.append(
                    f"{a.name}: cluster_by_auto has no effect with "
                    f"{len(ccols)} cluster_columns — the Morton layout needs "
                    ">= 2 keys (one key is already optimally sorted)"
                )
            elif wt.partition_columns:
                warnings.append(
                    f"{a.name}: cluster_by_auto on a partitioned table "
                    "degrades to within-partition lexicographic ordering "
                    "(partition dirs own their key; see docs/operators.md)"
                )
        if a.type != ActionType.LOAD or not isinstance(a.source, dict):
            continue
        st = a.source.get("type")
        if st == "cloudfiles":
            from lakehouse_plumber_spark.operators.load import validate_cloudfiles_options

            try:
                ignored = validate_cloudfiles_options(a.source.get("options") or {}, a.name)
            except ValueError as e:
                raise ValidationError(str(e))
            warnings.extend(
                f"{a.name}: {k} is accepted but not honored by the OSS engine"
                for k in ignored
                if k in ("cloudFiles.useNotifications", "cloudFiles.backfillInterval")
            )
        elif st == "kafka":
            opts = a.source.get("options") or {}
            sim = a.source.get("simulate_from") or opts.get("simulate_from")
            if not sim and not (
                a.source.get("bootstrap_servers") or opts.get("kafka.bootstrap.servers")
            ):
                raise ValidationError(
                    f"kafka load {a.name!r}: kafka.bootstrap.servers is mandatory "
                    "(reference load/kafka.py:23)"
                )
    return warnings


# cdc_config fields that must agree across every CDC contributor to one target:
# they define table-level schema/semantics (__start_at/__end_at, history
# tracking), not per-flow behavior (reference compatibility/cdc_fanin.py:30-44).
_SHARED_CDC_CONFIG_FIELDS = (
    "keys",
    "sequence_by",
    "scd_type",
    "track_history_column_list",
    "track_history_except_column_list",
)

# write_target fields rendered once per table — contributors must agree
# (reference compatibility/cdc_fanin.py:46-60).
_SHARED_TARGET_FIELDS = (
    "partition_columns",
    "cluster_columns",
    "cluster_by_auto",
    "table_properties",
    "spark_conf",
    "table_schema",
    "comment",
    "path",
    "row_filter",
    "temporary",
)


def validate_cdc_fanin(actions: list[Action]) -> None:
    """CDC fan-in compatibility (reference compatibility/cdc_fanin.py:1-120).

    When several write actions feed one streaming table:
    - mixing ``mode: cdc`` with standard/snapshot_cdc flows is an error (the
      merge-maintained state and blind appends cannot share a table);
    - all CDC contributors must agree on the shared cdc_config fields (keys,
      sequence_by, scd_type, track_history_*) and table-level target fields;
      they may differ only on per-flow fields (ignore_null_updates,
      apply_as_deletes/truncates, column lists, once).
    Invalid specs must fail validation, not run (VERDICT r2 §6).
    """
    by_target: dict[str, list[Action]] = defaultdict(list)
    for a in actions:
        if a.type == ActionType.WRITE and a.write_target and a.write_target.type.value == "streaming_table":
            by_target[a.write_target.full_name].append(a)

    for tbl, group in by_target.items():
        modes = {w.write_target.mode for w in group}
        if "cdc" in modes and len(modes) > 1:
            others = sorted(modes - {"cdc"})
            raise ValidationError(
                f"streaming table {tbl!r} mixes cdc flows with {others} flows; "
                f"a CDC target must be fed exclusively by cdc flows"
            )
        cdc_writers = [w for w in group if w.write_target.mode == "cdc"]
        if len(cdc_writers) < 2:
            continue
        first = cdc_writers[0]
        for other in cdc_writers[1:]:
            for f in _SHARED_CDC_CONFIG_FIELDS:
                va = getattr(first.write_target.cdc_config, f, None)
                vb = getattr(other.write_target.cdc_config, f, None)
                if va != vb:
                    raise ValidationError(
                        f"CDC fan-in into {tbl!r}: actions {first.name!r} and "
                        f"{other.name!r} disagree on cdc_config.{f} ({va!r} != {vb!r})"
                    )
            for f in _SHARED_TARGET_FIELDS:
                va = getattr(first.write_target, f, None)
                vb = getattr(other.write_target, f, None)
                if va != vb:
                    raise ValidationError(
                        f"CDC fan-in into {tbl!r}: actions {first.name!r} and "
                        f"{other.name!r} disagree on table-level {f} ({va!r} != {vb!r})"
                    )


def validate_cdc_schema(action: Action) -> list[str]:
    """SCD2 explicit-schema check (reference compatibility/cdc_schema.py:1-28):
    a declared table_schema for an SCD2 CDC target must carry the interval
    columns, else the first merge would fail schema enforcement at runtime."""
    wt = action.write_target
    if (
        action.type != ActionType.WRITE
        or wt is None
        or wt.mode != "cdc"
        or wt.cdc_config is None
        or wt.cdc_config.scd_type != 2
        or not wt.table_schema
    ):
        return []
    schema = wt.table_schema
    if isinstance(schema, dict):
        names = {c.get("name") for c in schema.get("columns", [])}
    elif isinstance(schema, str):
        names = set()
        import re as _re

        for part in _re.split(r",(?![^<(]*[>)])", schema):
            tok = part.strip().split()
            if tok:
                names.add(tok[0].strip("`"))
    else:
        return []
    errors = []
    for col in ("__start_at", "__end_at"):
        if col not in names:
            errors.append(
                f"action {action.name!r}: SCD2 table_schema must include {col!r} "
                f"with the sequence_by type (reference cdc_schema.py:18-26)"
            )
    return errors


def validate_job_names(flowgroups: list) -> list[str]:
    """Multi-job grouping rules (reference validators/pipeline/job_name.py):
    `job_name` is optional, but its use is ALL-OR-NOTHING across the project
    (a scheduler can't mix grouped and ungrouped flowgroups in one export),
    the format is [A-Za-z0-9_-]+, and every flowgroup of one pipeline must
    land in the same job (the pipeline is the orchestration unit the job
    export lifts edges through)."""
    problems: list[str] = []
    with_name = [fg for fg in flowgroups if fg.job_name]
    for fg in with_name:
        if not re.fullmatch(r"[A-Za-z0-9_-]+", fg.job_name):
            problems.append(
                f"{fg.pipeline}/{fg.flowgroup}: job_name {fg.job_name!r} may "
                "only contain letters, digits, underscores, and hyphens"
            )
    if with_name and len(with_name) != len(flowgroups):
        missing = ", ".join(
            f"{fg.pipeline}/{fg.flowgroup}" for fg in flowgroups if not fg.job_name
        )
        problems.append(
            "job_name usage is all-or-nothing: "
            f"{len(with_name)} flowgroup(s) declare one but these do not: {missing}"
        )
    by_pipeline: dict[str, set[str]] = {}
    for fg in with_name:
        by_pipeline.setdefault(fg.pipeline, set()).add(fg.job_name)
    for pipeline, jobs in sorted(by_pipeline.items()):
        if len(jobs) > 1:
            problems.append(
                f"pipeline {pipeline!r} is split across jobs {sorted(jobs)}; "
                "all flowgroups of one pipeline must share a job_name"
            )
    return problems


def execution_stages(deps: dict[int, set[int]], n: int) -> list[list[int]]:
    """Topological stage assignment over cross_flowgroup_deps edges — THE
    single stage computation shared by the runner (run_many), the `deps`/
    `dag` commands, and the `jobs` export, so the executed order and every
    exported plan cannot drift. Each stage is the set of not-yet-done
    flowgroups whose dependencies are all done; raises CycleError when no
    progress can be made."""
    done: set[int] = set()
    stages: list[list[int]] = []
    while len(done) < n:
        stage = [i for i in range(n) if i not in done and deps[i] <= done]
        if not stage:
            raise CycleError(
                "cross-flowgroup dependency cycle among flowgroup indexes "
                + ", ".join(str(i) for i in range(n) if i not in done)
            )
        stages.append(stage)
        done.update(stage)
    return stages


def _lane_name(name: str) -> str:
    """A view or table name as the shared session's temp view namespace
    sees it: dots folded (BuildContext.register), case-insensitive."""
    return name.replace(".", "__").lower()


def _imports_user_code(a: Action) -> bool:
    """Whether the action may load a user module: `operators.load.
    _import_module` registers it in sys.modules under a name built from the
    action's name (`lhp_tf_<name>`, `lhp_sink_<name>`, ...)."""
    src = a.source if isinstance(a.source, dict) else {}
    wt = a.write_target
    snap = wt.snapshot_cdc_config if wt is not None else None
    return bool(
        a.module_path
        or src.get("module_path")
        or (wt is not None and (wt.module_path or wt.batch_handler))
        or (snap is not None and snap.source_function)
    )


def _registers_data_source(a: Action) -> bool:
    """Whether the action calls `spark.dataSource.register`, which binds a
    format name session-wide: a custom sink or a custom data-source load."""
    src = a.source if isinstance(a.source, dict) else {}
    wt = a.write_target
    return src.get("type") == "custom_datasource" or (
        wt is not None and wt.sink_type is not None and wt.sink_type.value == "custom"
    )


def _read_paths(a: Action) -> list[str]:
    """File paths a load reads: a cloudfiles `path`, a kafka load's
    `simulate_from`."""
    src = a.source if isinstance(a.source, dict) else {}
    return [str(p) for p in (
        src.get("path"), src.get("simulate_from"), (src.get("options") or {}).get("simulate_from"),
    ) if p]


def flowgroup_lane_keys(
    fg, reporting_cfg: Optional[dict] = None, base_dir: str = "."
) -> tuple[set[str], set[str]]:
    """What a flowgroup's run touches, as (read keys, write keys). Two
    flowgroups conflict when one's write key is among the other's read or
    write keys.

    Written:
    - every view it registers or reads (`target`, `source_views()`):
      views live in the one session, where a later
      `createOrReplaceTempView` of the name replaces them, and reading a
      store table from SQL registers it as a temp view too;
    - every table it writes: the write target, a sink's `options.tableName`,
      the quarantine DLQ and its `__outbox`/`__clean` tables, the
      incremental dedup index and grams tables, and the test-reporting
      result table;
    - every path it writes files under (`WriteTarget.written_paths`),
      resolved against `base_dir`;
    - the sys.modules names its user code is imported under
      (`module:<action name>`, `module:lhp_test_reporter`), and the
      session's data-source registry when it registers a custom format.

    Read: the store tables its delta loads read (`table_reads()`) and the
    paths its loads read files from. A reader in the same stage as a writer
    of one table is rare (`cross_flowgroup_deps` stages readers after the
    table's last writer) but happens when another writer of it lands in the
    reader's stage.

    `reporting_cfg` is the test_reporting block the flowgroup's run
    publishes with (`PipelineRunner._reporting_cfg`)."""
    read_names: list[str] = []
    written_names: list[str] = []
    writes: set[str] = set()
    read_paths: list[str] = []
    written_paths: list[str] = []
    for a in fg.actions:
        written_names.extend(a.source_views())
        read_names.extend(a.table_reads())
        read_paths.extend(_read_paths(a))
        if a.target:
            written_names.append(a.target)
        wt = a.write_target
        if wt is not None:
            written_names.extend(n for n in (wt.full_name, wt.sink_table) if n)
            written_paths.extend(wt.written_paths())
        if a.quarantine is not None:
            dlq = a.quarantine.dlq_table
            written_names.extend((dlq, f"{dlq}__outbox", f"{dlq}__clean"))
        if a.dedup is not None:
            written_names.extend(t for t in (a.dedup.index_table, a.dedup.grams_table) if t)
        if _imports_user_code(a):
            writes.add(f"module:{a.name}")
        if _registers_data_source(a):
            writes.add("data_source_registry")
    if reporting_cfg and any(a.type == ActionType.TEST for a in fg.actions):
        written_names.append(result_table(reporting_cfg.get("config") or {}))
        if reporting_cfg.get("module_path"):
            writes.add("module:lhp_test_reporter")

    def path_key(p: str) -> str:
        return "path:" + os.path.normpath(os.path.join(base_dir, p))

    writes.update(_lane_name(n) for n in written_names)
    writes.update(path_key(p) for p in written_paths)
    reads = {_lane_name(n) for n in read_names} | {path_key(p) for p in read_paths}
    return reads, writes


def stage_lanes(
    flowgroups: list,
    stage: list[int],
    reporting_cfg: Callable = lambda fg: fg.test_reporting,
    base_dir: str = ".",
) -> list[list[int]]:
    """Split one stage of `execution_stages` into lanes that may run at the
    same time: flowgroups that conflict on a `flowgroup_lane_keys` key are
    one lane, whose members run one after another in index order. Lanes
    come out ordered by their first member. `reporting_cfg(fg)` gives the
    test_reporting block a flowgroup publishes with.

    A flowgroup whose write target sets `spark_conf` makes the whole stage
    one lane: those confs are session-global for the length of its write."""
    if any(
        a.write_target is not None and a.write_target.spark_conf
        for i in stage for a in flowgroups[i].actions
    ):
        return [list(stage)]
    root = {i: i for i in stage}

    def find(i: int) -> int:
        while root[i] != i:
            i = root[i]
        return i

    holders: dict[str, list[int]] = defaultdict(list)
    written: set[str] = set()
    for i in stage:
        reads, writes = flowgroup_lane_keys(flowgroups[i], reporting_cfg(flowgroups[i]), base_dir)
        for key in reads | writes:
            holders[key].append(i)
        written |= writes
    for key in written:
        first, *rest = holders[key]
        for i in rest:
            a, b = find(first), find(i)
            root[max(a, b)] = min(a, b)
    lanes: dict[int, list[int]] = {}
    for i in stage:
        lanes.setdefault(find(i), []).append(i)
    return list(lanes.values())


def validate_streaming_compaction(flowgroups: list) -> list[str]:
    """Auto-compaction is incompatible with streaming consumers of the same
    table (ADVICE r4 high): the store's shadow-swap compaction rewrites every
    data file under a NEW name, and a parquet FileStreamSource checkpoint
    tracks processed file PATHS — so after a compaction, every checkpointed
    streaming reader of the table re-ingests it in full, duplicating rows
    downstream (Delta OPTIMIZE avoids this with dataChange=false; a
    parquet-directory table has no equivalent). Flag the combination
    statically across the project; the store and runner independently refuse
    it at runtime (tables.py:compact, write.py:run_pending_compactions)."""
    from lakehouse_plumber_spark.models import ActionType

    compacted: dict[str, str] = {}
    for fg in flowgroups:
        for a in fg.actions:
            wt = a.write_target
            if wt is None:
                continue
            if (wt.table_properties or {}).get("lhp.autoOptimize.maxFiles") is not None:
                compacted[wt.full_name] = f"{fg.pipeline}/{fg.flowgroup}/{a.name}"
    if not compacted:
        return []
    problems: list[str] = []

    def _flag(fg, a, name: str) -> None:
        problems.append(
            f"{fg.pipeline}/{fg.flowgroup}/{a.name} streams from table "
            f"{name!r}, but {compacted[name]} declares "
            "lhp.autoOptimize.maxFiles on it: compaction renames every "
            "data file, so this consumer's streaming checkpoint would "
            "re-ingest the table in full — drop the property or read "
            "the table in batch mode"
        )

    for fg in flowgroups:
        for a in fg.actions:
            # streaming delta loads of a compacted table
            if a.type == ActionType.LOAD and (a.readMode or "batch") == "stream":
                src = a.source if isinstance(a.source, dict) else {}
                if src.get("type") == "delta" and src.get("table"):
                    name = ".".join(
                        p for p in (
                            src.get("catalog"),
                            src.get("database") or src.get("schema"),
                            src.get("table"),
                        ) if p
                    )
                    if name in compacted:
                        _flag(fg, a, name)
            # stream(table) refs inside SQL text are consumers too
            sqls = [a.sql]
            if isinstance(a.source, dict):
                sqls.append(a.source.get("sql"))
            if a.write_target is not None:
                sqls.append(a.write_target.sql)
            for sql in sqls:
                if not sql:
                    continue
                # same masking as sql_table_refs: block comments and string
                # literals must not fabricate (or refuse) consumers
                masked = re.sub(r"--[^\n]*", " ", sql)
                masked = re.sub(r"/\*.*?\*/", " ", masked, flags=re.S)
                masked = re.sub(r"'(?:[^'\\]|\\.)*'", "''", masked)
                for m in re.finditer(
                    r"\bstream\s*\(\s*([A-Za-z_][\w.]*)\s*\)", masked, re.I
                ):
                    name = m.group(1)
                    if name in compacted:
                        _flag(fg, a, name)
    return problems


def cross_flowgroup_deps(flowgroups: list, base_dir: str) -> tuple[dict[int, set[int]], list[str]]:
    """Cross-flowgroup dependency edges: flowgroup i depends on flowgroup j
    when i reads a table/view j writes (reference
    DependencyAnalysisService semantics). The single source of truth for
    BOTH the runner's stage scheduling and the CLI's dag/deps command — the
    two must never disagree on execution order.

    Edge sources, per action:
    - declared view/table reads (source_views), plus delta-load managed-table
      reads (table_reads — cross-flowgroup ONLY, see models.py for why they
      must not be intra-flowgroup edges);
    - table refs inside SQL text (reference extracts with sqlglot);
    - table refs inside python bodies (reference AST visitors; see pydeps) —
      extraction advisories come back as the second tuple element.

    Temp views fold dots (main.x.t -> main__x__t): a python body may read
    the folded spelling of a dotted writer, so both spellings match.
    """
    from lakehouse_plumber_spark.models import ActionType
    from lakehouse_plumber_spark.pydeps import action_python_refs

    writes: dict[str, int] = {}
    for i, fg in enumerate(flowgroups):
        for a in fg.actions:
            if a.type == ActionType.WRITE and a.write_target is not None:
                writes[a.write_target.full_name] = i
                if a.write_target.table:
                    writes[a.write_target.table] = i
    deps: dict[int, set[int]] = {i: set() for i in range(len(flowgroups))}
    warnings: list[str] = []
    for i, fg in enumerate(flowgroups):
        for a in fg.actions:
            refs = list(a.source_views())
            refs.extend(a.table_reads())
            sql = a.sql or (a.source.get("sql") if isinstance(a.source, dict) else None)
            if sql:
                refs.extend(sql_table_refs(sql))
            if a.write_target is not None and a.write_target.sql:
                refs.extend(sql_table_refs(a.write_target.sql))
            pyres = action_python_refs(a, base_dir)
            refs.extend(pyres.tables)
            warnings.extend(
                f"WARNING {fg.pipeline}/{fg.flowgroup}/{a.name}: {w}"
                for w in pyres.warnings
            )
            for v in refs:
                j = writes.get(v)
                if j is None and "__" in v:
                    j = writes.get(v.replace("__", "."))
                if j is not None and j != i:
                    deps[i].add(j)
    return deps, warnings
