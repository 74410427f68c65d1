"""Developer-sandbox rewrite: rename every table PRODUCED by an in-scope
flowgroup to a per-developer name, across writes AND reads.

Reference parity: the ``--sandbox`` rewrite engine
(src/lhp/core/sandbox/__init__.py:1-38; strategy + choke point
_renames.py:116-134; flowgroup walk _flowgroup_rewriter.py:70-120). Reference
semantics preserved here:

- the rename SET is the producer index over the in-scope flowgroups —
  materialized-view / streaming-table ``write_target`` destinations plus
  delta-sink ``options.tableName``;
- v1 ships the TABLE strategy only: ``table_pattern`` (placeholders
  ``{namespace}`` and ``{table}``, both required, literal text restricted to
  identifier characters) is applied to the table LEAF; catalog and schema
  pass through unchanged;
- matching is canonical (lowercased, backtick-stripped — Unity Catalog
  matching is case-insensitive) but the rewrite formats the per-site ORIGINAL
  spelling of the leaf, so each rewritten site keeps its author's casing;
- out-of-scope refs (source tables, ambiguous short refs, bare view names)
  pass through untouched;
- the input FlowGroup is never mutated: the pass walks ``model_dump()`` and
  re-validates through ``FlowGroup(**data)``.

The reference additionally emits a runtime shim for dynamic (f-string) table
refs inside generated Databricks code (templates/sandbox/runtime_shim.py.j2);
this engine executes specs in-process, so rewritten specs are complete and no
shim is needed (python bodies with runtime-only names surface through the
pydeps advisory channel instead).
"""

from __future__ import annotations

import re
import string
from dataclasses import dataclass
from typing import Any, Optional

from lakehouse_plumber_spark.models import ActionType, FlowGroup

class SandboxConfigError(ValueError):
    pass


def _pattern_problems(pattern: str) -> list[str]:
    """Every defect in a rename pattern, as human-readable strings.

    A pattern is acceptable when ``str.format`` can render it, its only
    placeholders are a plain ``{namespace}`` and a plain ``{table}`` (each
    required, neither dressed with a conversion or format spec — the rename
    must be a pure substitution), and the glue text around them stays within
    ``[A-Za-z0-9_]`` so every rendered leaf is still a legal table
    identifier.  Walked with ``string.Formatter`` because that is the exact
    tokenizer ``str.format`` itself uses at rename time.
    """
    try:
        pieces = list(string.Formatter().parse(pattern))
    except ValueError as exc:
        return [f"cannot be parsed as a format string ({exc})"]

    problems: list[str] = []
    used: list[str] = []
    for glue, placeholder, spec, conversion in pieces:
        stray = sorted(set(re.sub(r"[A-Za-z0-9_]", "", glue)))
        if stray:
            problems.append(
                f"non-identifier characters {stray} in table_pattern"
                f" literal segment {glue!r}"
            )
        if placeholder is None:
            continue
        used.append(placeholder)
        if placeholder not in ("namespace", "table"):
            problems.append(
                f"unsupported placeholder {{{placeholder}}} in table_pattern"
                " (supported: {namespace}, {table})"
            )
        elif spec or conversion is not None:
            problems.append(
                f"placeholder {{{placeholder}}} in table_pattern must appear"
                " bare, without !conversion or :format-spec"
            )
    absent = [f"{{{p}}}" for p in ("namespace", "table") if p not in used]
    if absent:
        problems.append(
            "table_pattern is missing required placeholder(s) "
            + ", ".join(absent)
        )
    return problems


@dataclass(frozen=True)
class SandboxStrategy:
    """Table-leaf rename strategy for one sandbox run."""

    namespace: str
    table_pattern: str = "{namespace}_{table}"

    def __post_init__(self) -> None:
        for problem in _pattern_problems(self.table_pattern):
            raise SandboxConfigError(problem)
        if not re.fullmatch(r"\w+", self.namespace or ""):
            raise SandboxConfigError(
                f"sandbox namespace must be an identifier, got {self.namespace!r}"
            )

    def rename_leaf(self, table: str) -> str:
        """THE single pattern-application choke point: rewrite the table LEAF
        with the per-site original spelling."""
        return self.table_pattern.format(namespace=self.namespace, table=table)


def _canon(name: str) -> str:
    return name.replace("`", "").lower()


def produced_tables(flowgroups: list[FlowGroup]) -> dict[str, str]:
    """The sandbox rename set: canonical full name -> canonical leaf, for
    every table produced by an in-scope flowgroup (MV/streaming-table write
    targets + delta-sink tableName)."""
    out: dict[str, str] = {}
    for fg in flowgroups:
        for a in fg.actions:
            if a.type != ActionType.WRITE or a.write_target is None:
                continue
            wt = a.write_target
            if wt.type.value in ("materialized_view", "streaming_table") and wt.table:
                out[_canon(wt.full_name)] = _canon(wt.table)
            elif wt.sink_table:
                out[_canon(wt.sink_table)] = _canon(wt.sink_table.rsplit(".", 1)[-1])
    return out


def _match(ref: str, produced: dict[str, str]) -> Optional[str]:
    """Resolve a (possibly short) table ref to the canonical produced full
    name, or None when out of scope / ambiguous.

    Full dotted refs match exactly; shorter refs match when exactly ONE
    produced table's trailing parts equal them (the reference's
    2-part<->3-part reconciliation rule, match_produced_table)."""
    c = _canon(ref)
    if c in produced:
        return c
    nparts = c.count(".") + 1
    tails = [full for full in produced if ".".join(full.split(".")[-nparts:]) == c]
    return tails[0] if len(tails) == 1 else None


def _rename_ref(ref: str, strategy: SandboxStrategy) -> str:
    """Rewrite the leaf of a dotted ref, preserving the site's spelling."""
    head, _, leaf = ref.rpartition(".")
    new_leaf = strategy.rename_leaf(leaf.replace("`", ""))
    return f"{head}.{new_leaf}" if head else new_leaf


def _rewrite_sql(sql: str, strategy: SandboxStrategy, produced: dict[str, str]) -> str:
    """Rewrite produced-table refs inside a SQL string.

    Candidate refs come from the same masked-token scan the dependency DAG
    uses (dag.sql_table_refs), so only genuine table positions are touched;
    each matched ref is replaced with word boundaries, case-insensitively."""
    from lakehouse_plumber_spark.dag import sql_table_refs

    out = sql
    for ref in sorted(sql_table_refs(sql), key=len, reverse=True):
        if _match(ref, produced) is None:
            continue
        pat = re.compile(r"(?<![\w.`])" + re.escape(ref) + r"(?![\w.`])", re.IGNORECASE)
        out = pat.sub(lambda m: _rename_ref(m.group(0), strategy), out)
        # a renamed table's LEAF also appears as a COLUMN QUALIFIER
        # (`customers.c_name`, `customers.address.city` — Spark accepts
        # leaf-name qualification even for dotted FROM refs); rewrite those
        # too or they go stale once the FROM is renamed. The lookbehind
        # keeps dotted positions (schema.customers.x) untouched.
        leaf = ref.rsplit(".", 1)[-1]
        qpat = re.compile(
            r"(?<![\w.`])" + re.escape(leaf) + r"(?=\.[A-Za-z_`])",
            re.IGNORECASE,
        )
        out = qpat.sub(lambda m: strategy.rename_leaf(m.group(0)), out)
    return out


def rewrite_flowgroup(
    fg: FlowGroup, strategy: SandboxStrategy, produced: dict[str, str]
) -> FlowGroup:
    """Return a NEW flowgroup with in-scope table refs renamed."""
    if not produced:
        return fg
    data = fg.model_dump(by_alias=True, exclude_none=True)
    for action in data.get("actions") or []:
        _rewrite_action(action, strategy, produced)
    out = FlowGroup(**data)
    # in-process callables are excluded from model_dump (not serializable);
    # re-attach them so programmatically-built specs survive the rewrite
    for a_old, a_new in zip(fg.actions, out.actions):
        if a_old.callable_fn is not None:
            a_new.callable_fn = a_old.callable_fn
        if (
            a_old.write_target is not None
            and a_new.write_target is not None
            and a_old.write_target.batch_handler_callable is not None
        ):
            a_new.write_target.batch_handler_callable = a_old.write_target.batch_handler_callable
        old_snap = a_old.write_target.snapshot_cdc_config if a_old.write_target else None
        new_snap = a_new.write_target.snapshot_cdc_config if a_new.write_target else None
        if old_snap is not None and new_snap is not None:
            cb = getattr(old_snap, "source_callable", None)
            if cb is not None:
                new_snap.source_callable = cb
    return out


def _rewrite_action(action: dict[str, Any], strategy: SandboxStrategy, produced: dict[str, str]) -> None:
    # chained refs: a source string naming a produced table is a read
    src = action.get("source")
    if isinstance(src, str) and _match(src, produced):
        action["source"] = _rename_ref(src, strategy)
    elif isinstance(src, list):
        action["source"] = [
            _rename_ref(s, strategy) if isinstance(s, str) and _match(s, produced) else s
            for s in src
        ]
    elif isinstance(src, dict):
        # delta load {catalog, schema, table} triple
        if src.get("type") == "delta" and src.get("table"):
            parts = [p for p in (src.get("catalog"), src.get("schema") or src.get("database")) if p]
            full = ".".join(parts + [str(src["table"])])
            if _match(full, produced):
                src["table"] = strategy.rename_leaf(str(src["table"]))
        # test-action & lookup refs
        for key in ("source", "target", "reference", "lookup_table", "view"):
            v = src.get(key)
            if isinstance(v, str) and _match(v, produced):
                src[key] = _rename_ref(v, strategy)
        if isinstance(src.get("sql"), str):
            src["sql"] = _rewrite_sql(src["sql"], strategy, produced)

    if isinstance(action.get("sql"), str):
        action["sql"] = _rewrite_sql(action["sql"], strategy, produced)

    wt = action.get("write_target")
    if isinstance(wt, dict):
        if wt.get("table"):
            parts = [p for p in (wt.get("catalog"), wt.get("schema") or wt.get("database")) if p]
            full = ".".join([str(p) for p in parts] + [str(wt["table"])])
            if _canon(full) in produced:
                wt["table"] = strategy.rename_leaf(str(wt["table"]))
        opts = wt.get("options")
        if isinstance(opts, dict) and opts.get("tableName") and _match(str(opts["tableName"]), produced):
            opts["tableName"] = _rename_ref(str(opts["tableName"]), strategy)
        if isinstance(wt.get("sql"), str):
            wt["sql"] = _rewrite_sql(wt["sql"], strategy, produced)


def apply_sandbox(flowgroups: list[FlowGroup], namespace: str,
                  table_pattern: str = "{namespace}_{table}") -> list[FlowGroup]:
    """Rewrite a whole project for one developer's sandbox run."""
    strategy = SandboxStrategy(namespace=namespace, table_pattern=table_pattern)
    produced = produced_tables(flowgroups)
    return [rewrite_flowgroup(fg, strategy, produced) for fg in flowgroups]
