"""CLI for the engine — the OSS counterpart of the reference's `lhp` tool
(reference: src/lhp/cli/main.py lazy-registers generate/validate/deps/...).

Because this engine executes pipelines instead of emitting Databricks code,
`lhp generate` maps to two commands here:

  python -m lakehouse_plumber_spark validate <project_root> [--env dev]
  python -m lakehouse_plumber_spark run      <project_root> [--env dev]
  python -m lakehouse_plumber_spark compile  <project_root> [-o OUT] [--env dev]
  python -m lakehouse_plumber_spark deps     <project_root> [--env dev]
  python -m lakehouse_plumber_spark diff     <project_root> [-o OUT] [-s] [--exit-code]
  python -m lakehouse_plumber_spark list     <project_root> {presets,templates,blueprints}
  python -m lakehouse_plumber_spark substitutions <project_root> [--env dev]

Project layout mirrors the reference: `pipelines/**/*.yaml` flowgroups (plus
`presets/`, `templates/`, `blueprints/`), and token files under
`substitutions/{env}.yaml` (reference: src/lhp/core/processing/substitution.py;
secrets come from LHP_SECRET_<SCOPE>_<KEY> env vars in this engine).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _load_tokens(project_root: str, env: str | None) -> dict:
    if not env:
        return {}
    import yaml

    path = os.path.join(project_root, "substitutions", f"{env}.yaml")
    if not os.path.exists(path):
        raise SystemExit(f"no substitution file for env {env!r}: {path}")
    with open(path) as f:
        spec = yaml.safe_load(f) or {}
    # reference env files may nest under the env name or be flat
    return spec.get(env, spec)


def _discover(args) -> list:
    from lakehouse_plumber_spark.parsers import discover_flowgroups, load_project_config

    fgs = discover_flowgroups(args.project_root, tokens=_load_tokens(args.project_root, args.env))
    if not fgs:
        raise SystemExit(f"no flowgroups under {args.project_root}/pipelines/")
    if getattr(args, "sandbox", None):
        # per-developer rename pass (reference --sandbox, core/sandbox/):
        # every produced table and every read of it gets the namespace prefix.
        # lhp.yaml's sandbox: block is the TEAM policy (table_pattern +
        # allowed_envs); the namespace is always the developer's own.
        from lakehouse_plumber_spark.sandbox import SandboxConfigError, apply_sandbox

        cfg = load_project_config(args.project_root)
        policy = (cfg.sandbox or {}) if cfg is not None else {}
        allowed = policy.get("allowed_envs")
        if allowed is not None and args.env not in allowed:
            raise SystemExit(
                f"sandbox runs are not allowed against env {args.env!r} "
                f"(lhp.yaml sandbox.allowed_envs: {allowed})"
            )
        try:
            fgs = apply_sandbox(
                fgs, args.sandbox,
                table_pattern=policy.get("table_pattern", "{namespace}_{table}"),
            )
        except SandboxConfigError as e:
            raise SystemExit(f"bad --sandbox config: {e}")
    return fgs


def cmd_validate(args) -> int:
    from lakehouse_plumber_spark.dag import (
        CycleError,
        ValidationError,
        validate_flowgroup_graph,
        validate_streaming_compaction,
    )
    from lakehouse_plumber_spark.models import SpecError

    try:
        fgs = _discover(args)
    except (CycleError, ValidationError, SpecError) as e:
        # user-spec failures (bad template params, unresolved tokens, missing
        # preset/template files) report as a clean FAIL line; any OTHER
        # exception is an engine bug and must traceback (ADVICE r4)
        print(f"FAIL  {e}")
        return 1
    rc = 0
    for fg in fgs:
        label = f"{fg.pipeline}/{fg.flowgroup}"
        try:
            warnings = validate_flowgroup_graph(fg.actions)
        except ValidationError as e:
            print(f"FAIL  {label}: {e}")
            rc = 1
            continue
        print(f"ok    {label} ({len(fg.actions)} actions)")
        for w in warnings:
            print(f"  warn: {w}")
    for problem in validate_streaming_compaction(fgs):
        print(f"FAIL  {problem}")
        rc = 1
    from lakehouse_plumber_spark.dag import validate_job_names

    for problem in validate_job_names(fgs):
        print(f"FAIL  {problem}")
        rc = 1
    return rc


def cmd_run(args) -> int:
    from lakehouse_plumber_spark import get_spark
    from lakehouse_plumber_spark.runner import PipelineRunner

    from lakehouse_plumber_spark.parsers import load_project_config

    fgs = _discover(args)
    spark = get_spark("lhp_cli")
    spark.sparkContext.setLogLevel("WARN")
    runner = PipelineRunner(
        spark, base_dir=args.project_root,
        project_config=load_project_config(args.project_root),
    )
    from lakehouse_plumber_spark.models import ActionType

    conf = None
    if getattr(args, "backfill", None):
        spec = args.backfill
        if "=" not in spec:
            print(f"--backfill expects COL=V1,V2 — got {spec!r}", file=sys.stderr)
            return 2
        col, _, vals = spec.partition("=")
        values = [v for v in vals.split(",") if v]
        if not col or not values:
            print(f"--backfill expects COL=V1,V2 — got {spec!r}", file=sys.stderr)
            return 2
        conf = {"__backfill__": (col, values)}
    contexts = runner.run_many(fgs, conf=conf)
    for fg, ctx in zip(fgs, contexts):
        for a in fg.actions:
            if (
                a.type == ActionType.WRITE
                and a.write_target is not None
                and a.write_target.type.value in ("streaming_table", "materialized_view")
            ):
                name = a.write_target.full_name
                n = ctx.resolve_view(name).count()
                print(f"{fg.pipeline}/{fg.flowgroup}: {name} rows={n}")
    log = runner.event_log_df()
    summary = {
        r["event"]: r["n"]
        for r in log.groupBy("event").count().withColumnRenamed("count", "n").collect()
    }
    print(f"event log: {json.dumps(summary, sort_keys=True)}")
    cfg = runner.project_config
    if cfg is not None and cfg.event_log:
        # declarative event-log table (reference lhp.yaml `event_log:` ->
        # per-pipeline DLT event-log tables; the engine persists its own
        # first-party event rows to one project table)
        from lakehouse_plumber_spark.monitoring import persist_event_log
        from lakehouse_plumber_spark.substitution import substitute

        el = substitute(dict(cfg.event_log),
                        tokens=_load_tokens(args.project_root, args.env),
                        strict=False)
        leaf = el.get("name") or f"{cfg.name}{el.get('name_suffix', '_event_log')}"
        table = ".".join(
            str(p) for p in (el.get("catalog"), el.get("schema", "_meta"), leaf) if p
        )
        persist_event_log(runner, table)
        print(f"event log persisted to {table}")
    if getattr(args, "perf", False):
        _print_perf_report(fgs, runner.event_log)
    return 0


def _print_perf_report(fgs: list, event_log: list[dict]) -> None:
    """--perf analog of the reference's performance_timer report
    (src/lhp/utils/performance_timer.py:150-166): per-operator-category
    cnt/avg/min/max/total over the run's action timings, each stage's wall
    seconds and lanes, plus event counts.
    Driven entirely by the event log the engine already records, so enabling
    it adds zero overhead to the run itself."""
    # keyed by (pipeline, flowgroup, action): bare action names are only
    # unique within one flowgroup, and the event log carries all three
    cat_of: dict[tuple, str] = {}
    for fg in fgs:
        for a in fg.actions:
            sub = a.sub_type
            cat_of[(fg.pipeline, fg.flowgroup, a.name)] = (
                f"{a.type.value}.{sub}" if sub else a.type.value
            )
    timings: dict[str, list[float]] = {}
    event_counts: dict[str, int] = {}
    for ev in event_log:
        event_counts[ev.get("event", "?")] = event_counts.get(ev.get("event", "?"), 0) + 1
        secs = (ev.get("details") or {}).get("seconds")
        if ev.get("event") == "action_completed" and secs is not None:
            key = (ev.get("pipeline"), ev.get("flowgroup"), ev.get("action"))
            timings.setdefault(cat_of.get(key, "other"), []).append(float(secs))
    print("[PERF] ============ operator timings ==============")
    for cat in sorted(timings, key=lambda c: -sum(timings[c])):
        d = timings[cat]
        print(
            f"[PERF]   {cat:<28s} cnt={len(d):<4d} avg={sum(d)/len(d):.3f}s  "
            f"min={min(d):.3f}s  max={max(d):.3f}s  total={sum(d):>7.2f}s"
        )
    stages = [ev["details"] for ev in event_log if ev.get("event") == "stage_completed"]
    if stages:
        print("[PERF] ============ stage walls ==============")
        for st in stages:
            print(
                f"[PERF]   stage {st['stage']:<3d} flowgroups={len(st['flowgroups']):<4d} "
                f"lanes={len(st['lanes']):<4d} wall={st['seconds']:>7.2f}s"
            )
        if any(len(st["lanes"]) > 1 for st in stages):
            print(
                "[PERF]   action seconds overlap in a stage with more than one "
                "lane: its lanes run at the same time, so their totals above "
                "can exceed the stage wall"
            )
    print("[PERF] Event counts:")
    for name in sorted(event_counts):
        print(f"[PERF]   {name:<35s} {event_counts[name]:>8d}")
    print("[PERF] =============================================")


def _compile_sources(fgs: list, base_dir: str, jobs: int):
    """Yield (pipeline, flowgroup, src, err) for every flowgroup, preserving
    input order. jobs>1 compiles in a spawn-based process pool (reference
    orchestrator.py:103-124 uses a spawn pool of ~0.8xCPU workers); specs
    holding in-process callables are not picklable, so the pool degrades to
    in-process compilation rather than failing the command.

    The worker lives in codegen (compile_flowgroup_result), NOT here: when
    the CLI runs as `python -m lakehouse_plumber_spark`, this file IS
    __main__, and spawn children cannot resolve attributes of the parent's
    __main__ module — the worker must be importable by package path."""
    from lakehouse_plumber_spark.codegen import compile_flowgroup_result

    usable = False
    if jobs > 1 and len(fgs) > 1:
        import pickle

        try:
            # decide up front: an unpicklable spec (in-process callable)
            # must not fail mid-pool and leave duplicate/partial output.
            # ONLY the pre-check is guarded — a genuine compile error inside
            # a worker (missing expectations_file, bad module) propagates
            # exactly as it would serially, never re-runs the loop.
            pickle.dumps(fgs)
            usable = True
        except (TypeError, AttributeError, pickle.PicklingError) as e:
            print(f"note: parallel compile unavailable ({e}); compiling serially")
    if usable:
        import multiprocessing as mp
        from concurrent.futures import ProcessPoolExecutor

        ctx = mp.get_context("spawn")
        with ProcessPoolExecutor(max_workers=min(jobs, len(fgs)), mp_context=ctx) as pool:
            yield from pool.map(compile_flowgroup_result, fgs, [base_dir] * len(fgs))
        return
    for fg in fgs:
        yield compile_flowgroup_result(fg, base_dir)


def cmd_compile(args) -> int:
    os.makedirs(args.out, exist_ok=True)
    rc = 0
    written: set[str] = set()
    fgs = _discover(args)
    # generated scripts are standalone files: no runtime can see that a
    # SIBLING script streams from a table this one compacts, so the
    # streaming/compaction hazard must be refused statically here (the
    # engine path refuses it at runtime too — write.py)
    from lakehouse_plumber_spark.dag import validate_streaming_compaction

    problems = validate_streaming_compaction(fgs)
    if problems:
        for p in problems:
            print(f"FAIL  {p}")
        return 2
    jobs = getattr(args, "jobs", 1)
    if jobs == 0:
        jobs = max(2, int(0.8 * (os.cpu_count() or 4)))
    for pipeline, flowgroup, src, err in _compile_sources(fgs, args.project_root, jobs):
        dest = os.path.join(args.out, f"{pipeline}__{flowgroup}.py")
        if err is not None:
            print(f"skip  {pipeline}/{flowgroup}: {err}")
            rc = 2
            continue
        # change-aware write (reference _commit.py): leave byte-identical
        # outputs untouched so mtimes/downstream watchers only see real change
        prev = None
        try:
            with open(dest) as f:
                prev = f.read()
        except (OSError, UnicodeDecodeError):
            pass
        written.add(os.path.basename(dest))
        if prev == src:
            print(f"unchanged {dest}")
            continue
        with open(dest, "w") as f:
            f.write(src)
        print(f"wrote {dest}")
    # change-aware cleanup (reference _commit.py removes stale outputs):
    # renamed/deleted flowgroups must not leave their old generated file
    # behind — otherwise `diff --exit-code` stays red forever. A file is
    # only removed if its CONTENT carries the generated-file header (not
    # just a __-shaped name: __init__.py or a user's conftest__local.py must
    # never be touched), and nothing is removed on a partially-failed
    # compile (rc != 0).
    if rc == 0:
        marker = '"""Generated by lakehouse_plumber_spark.codegen'
        for fn in sorted(os.listdir(args.out)):
            p = os.path.join(args.out, fn)
            if not (fn.endswith(".py") and "__" in fn and fn not in written):
                continue
            try:
                with open(p) as f:
                    head = f.read(len(marker))
            except (OSError, UnicodeDecodeError):
                continue
            if head == marker:
                os.remove(p)
                print(f"removed stale {p}")
    return rc


def _build_dep_edges(fgs: list, base_dir: str) -> dict:
    """Cross-flowgroup edges + carried advisories, JSON-serializable so the
    graph cache (reference graph_cache.py) can persist it. Thin shim over
    dag.cross_flowgroup_deps — the SAME edge-builder the runner schedules
    with, so `dag`/`deps` output and actual execution order cannot drift."""
    from lakehouse_plumber_spark.dag import cross_flowgroup_deps

    deps, warnings = cross_flowgroup_deps(fgs, base_dir)
    return {"deps": {str(i): sorted(s) for i, s in deps.items()},
            "warnings": warnings}


def _staged_plan(args):
    """Discover flowgroups, build the (cached) cross-flowgroup edges, and
    assign execution stages via dag.execution_stages — the SAME computation
    run_many schedules with. Shared by `deps`/`dag` and the `jobs` export."""
    import hashlib

    from lakehouse_plumber_spark.dag import execution_stages

    fgs = _discover(args)
    base_dir = getattr(args, "project_root", ".") or "."

    from lakehouse_plumber_spark.graph_cache import graph_cache_for

    cache = graph_cache_for(base_dir)
    if cache is not None:
        # key on the RESOLVED specs (tokens/presets/templates already folded
        # in) plus every python module a dep edge could come from
        h = hashlib.sha256()
        for fg in fgs:
            h.update(json.dumps(fg.model_dump(), sort_keys=True, default=str).encode())
        def _mods():
            # every python body a dep edge could come from: action-level
            # module_path AND load-source module_path (pydeps reads both)
            for fg in fgs:
                for a in fg.actions:
                    mp = a.module_path or (
                        a.source.get("module_path") if isinstance(a.source, dict) else None
                    )
                    if mp:
                        yield mp if os.path.isabs(mp) else os.path.join(base_dir, mp)

        module_paths = list(_mods())
        from lakehouse_plumber_spark.graph_cache import project_graph_key

        h.update(project_graph_key(module_paths).encode())
        built = cache.get_or_build(
            h.hexdigest(), lambda: _build_dep_edges(fgs, base_dir)
        )
    else:
        built = _build_dep_edges(fgs, base_dir)
    deps = {int(i): set(v) for i, v in built["deps"].items()}
    for w in built["warnings"]:
        print(w, file=sys.stderr)
    stages = execution_stages(deps, len(fgs))
    return fgs, deps, stages


def cmd_deps(args) -> int:
    """Print the cross-flowgroup execution stages (reference: `lhp deps` +
    job stage synthesis, src/lhp/core/jobs/job_generator.py)."""
    from lakehouse_plumber_spark.dag import CycleError

    try:
        fgs, deps, stages = _staged_plan(args)
    except CycleError as e:
        print(f"ERROR: {e}")
        return 1

    def _label(i: int) -> str:
        return f"{fgs[i].pipeline}/{fgs[i].flowgroup}"

    fmt = getattr(args, "format", "text") or "text"
    if fmt == "dot":
        # reference export_to_dot (core/dependencies/output.py:29-60)
        def esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace('"', '\\"')

        print("digraph flowgroup_dependencies {")
        print("  rankdir=LR;")
        print("  node [shape=box];")
        for i in range(len(fgs)):
            print(f'  "{esc(_label(i))}";')
        for i in range(len(fgs)):
            for j in sorted(deps[i]):
                print(f'  "{esc(_label(j))}" -> "{esc(_label(i))}";')
        print("}")
        return 0
    if fmt == "json":
        # reference export_to_json (core/dependencies/output.py:63-120)
        out = {
            "flowgroups": [
                {
                    "pipeline": fgs[i].pipeline,
                    "flowgroup": fgs[i].flowgroup,
                    "depends_on": sorted(_label(j) for j in deps[i]),
                    "stage": next(n for n, s in enumerate(stages, 1) if i in s),
                }
                for i in range(len(fgs))
            ],
            "stages": [[_label(i) for i in s] for s in stages],
        }
        print(json.dumps(out, indent=2, sort_keys=True))
        return 0
    for stage_no, stage in enumerate(stages, 1):
        for i in stage:
            up = ", ".join(_label(j) for j in sorted(deps[i])) or "-"
            print(f"stage {stage_no}: {_label(i)}  (after: {up})")
    return 0


def cmd_jobs(args) -> int:
    """Export the staged orchestration plan `run_many` executes as a job
    artifact for an external scheduler — the engine-side analogue of the
    reference JobGenerator, which emits staged job YAML from the
    cross-pipeline DAG (src/lhp/core/jobs/job_generator.py:60-108,
    job_builder.py:17-60: stages of tasks, each with depends_on and an
    is-parallel marker). `run` executes the same plan in-process: stages in
    order, and a stage's flowgroups at the same time in lanes
    (`dag.stage_lanes`). Flowgroups that share a view, a written table or
    path, a user-module name or the data-source registry, or where one reads
    a table or path the other writes, run one after another in one lane, and
    a stage holding a flowgroup with a per-table `spark_conf` runs as one
    lane. When a lane
    fails, the running lanes finish and no later stage starts."""
    from lakehouse_plumber_spark.dag import CycleError

    try:
        fgs, deps, stages = _staged_plan(args)
    except CycleError as e:
        print(f"ERROR: {e}", file=sys.stderr)
        return 1

    def _key(i: int) -> str:
        return f"{fgs[i].pipeline}__{fgs[i].flowgroup}"

    def _stages_doc(members: list[int]) -> list[dict]:
        """Stage list restricted to `members`, renumbered 1..k — the SAME
        assignment run_many computes, filtered to the group's tasks. Each
        task's depends_on is restricted to task keys in the SAME document
        (multi-job mode: cross-job edges lift to job-level depends_on)."""
        mset = set(members)
        scope = mset
        out = []
        for s in stages:
            tasks = [i for i in s if i in mset]
            if tasks:
                out.append({
                    "stage": len(out) + 1,
                    "parallel": len(tasks) > 1,
                    "tasks": [
                        {
                            "task_key": _key(i),
                            "pipeline": fgs[i].pipeline,
                            "flowgroup": fgs[i].flowgroup,
                            "depends_on": sorted(_key(j) for j in deps[i] if j in scope),
                        }
                        for i in sorted(tasks, key=_key)
                    ],
                })
        return out

    master = f"{os.path.basename(os.path.abspath(args.project_root))}_master"
    from lakehouse_plumber_spark.dag import validate_job_names

    problems = validate_job_names(fgs)
    if problems:
        for p in problems:
            print(f"ERROR: {p}", file=sys.stderr)
        return 1
    if any(fg.job_name for fg in fgs):
        # multi-job mode (reference job_builder.py): flowgroups group into
        # named jobs; cross-job flowgroup edges lift to job-level depends_on
        groups: dict[str, list[int]] = {}
        for i, fg in enumerate(fgs):
            groups.setdefault(fg.job_name, []).append(i)
        job_of = {i: fg.job_name for i, fg in enumerate(fgs)}
        job_deps = {
            name: sorted({
                job_of[j]
                for i in members
                for j in deps[i]
                if job_of[j] != name
            })
            for name, members in groups.items()
        }
        doc = {
            "job": {"name": master, "max_concurrent_runs": 1},
            "jobs": [
                {
                    "name": name,
                    "depends_on": job_deps[name],
                    "stages": _stages_doc(members),
                }
                for name, members in sorted(groups.items())
            ],
        }
    else:
        doc = {
            "job": {"name": master, "max_concurrent_runs": 1},
            "stages": _stages_doc(list(range(len(fgs)))),
        }
    if getattr(args, "format", "yaml") == "json":
        text = json.dumps(doc, indent=2, sort_keys=True) + "\n"
    else:
        import yaml

        # libyaml's emitter when built in: same output, a fraction of the cost
        dumper = getattr(yaml, "CSafeDumper", yaml.SafeDumper)
        text = yaml.dump(doc, Dumper=dumper, sort_keys=False, default_flow_style=False)
    out = getattr(args, "out", None)
    if out:
        with open(out, "w") as f:
            f.write(text)
        print(f"wrote {out}")
    else:
        sys.stdout.write(text)
    return 0


def cmd_list(args) -> int:
    """Enumerate presets / templates / blueprints (reference `lhp list`,
    src/lhp/cli/commands/list_command.py — listing reads are
    environment-independent, so there is no --env here)."""
    import yaml

    from lakehouse_plumber_spark.parsers import _find_dir

    kind = args.kind
    root = args.project_root
    d = _find_dir(root, kind)
    if d is None:
        print(f"no {kind}/ directory under {root}")
        return 0

    def _specs():
        for base, _, files in os.walk(d):
            for fn in sorted(files):
                if fn.endswith((".yaml", ".yml")):
                    p = os.path.join(base, fn)
                    with open(p) as f:
                        try:
                            spec = yaml.safe_load(f) or {}
                        except yaml.YAMLError as e:
                            print(f"warn: unparseable {p}: {e}", file=sys.stderr)
                            continue
                    yield p, spec

    if kind in ("presets", "templates"):
        for p, spec in _specs():
            name = spec.get("name") or os.path.splitext(os.path.basename(p))[0]
            extra = ""
            if kind == "templates":
                params = [
                    pr.get("name", "?") if isinstance(pr, dict) else str(pr)
                    for pr in spec.get("parameters") or []
                ]
                extra = f"  params: {', '.join(params) or '-'}"
            if kind == "presets" and spec.get("extends"):
                extra = f"  extends: {spec['extends']}"
            print(f"{name}{extra}")
        return 0

    # blueprints: definitions, and with --instances the instance expansion
    from lakehouse_plumber_spark.blueprints import looks_like_blueprint, looks_like_instance

    defs, insts = [], []
    for p, spec in _specs():
        if looks_like_blueprint(spec):
            defs.append(spec)
        elif looks_like_instance(spec):
            insts.append(spec)
    for spec in defs:
        params = [
            pr.get("name", "?") if isinstance(pr, dict) else str(pr)
            for pr in spec.get("parameters") or []
        ]
        n_fgs = len(spec.get("flowgroups") or [])
        print(
            f"{spec.get('name')}  params: {', '.join(params) or '-'}"
            f"  flowgroups: {n_fgs}"
        )
        if args.instances:
            for inst in insts:
                # preferred `use_blueprint` form and legacy flat `blueprint`
                ref = inst.get("use_blueprint") or inst.get("blueprint")
                if ref == spec.get("name"):
                    pv = inst.get("parameters") or {
                        k: v for k, v in inst.items()
                        if k not in ("blueprint", "use_blueprint", "source")
                    }
                    kv = ", ".join(f"{k}={v}" for k, v in sorted(pv.items()))
                    print(f"  instance: {kv or '-'}")
    return 0


def cmd_substitutions(args) -> int:
    """Show the resolved substitution tokens for --env (reference
    `lhp substitutions`, src/lhp/cli/commands/substitutions_command.py):
    every ${token} mapping, plus the ${secret:scope/key} refs observed in
    project files and whether each resolves here. A missing
    substitutions/<env>.yaml is not an error — an empty context is reported
    (reference contract). Secret VALUES are never printed."""
    import re

    from lakehouse_plumber_spark.substitution import _SECRET

    env = args.env or "dev"
    path = os.path.join(args.project_root, "substitutions", f"{env}.yaml")
    if os.path.exists(path):
        tokens = _load_tokens(args.project_root, env)
    else:
        tokens = {}
        print(f"(no substitution file at {path} — empty context)")

    def _flat(prefix: str, obj) -> list[tuple[str, str]]:
        if isinstance(obj, dict):
            out = []
            for k in sorted(obj):
                out.extend(_flat(f"{prefix}.{k}" if prefix else str(k), obj[k]))
            return out
        return [(prefix, str(obj))]

    print(f"environment: {env}")
    for k, v in _flat("", tokens):
        print(f"  ${{{k}}} = {v}")

    # observed secret refs across the project's yaml/sql/json files
    refs: set[tuple[str, str]] = set()
    for base, dirs, files in os.walk(args.project_root):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for fn in files:
            if fn.endswith((".yaml", ".yml", ".sql", ".json")):
                try:
                    with open(os.path.join(base, fn)) as f:
                        refs.update(_SECRET.findall(f.read()))
                except OSError:
                    continue
    if refs:
        print("secrets:")
        for scope, key in sorted(refs):
            env_key = f"LHP_SECRET_{scope.upper()}_{key.upper()}"
            status = "resolves" if env_key in os.environ else f"unset ({env_key})"
            print(f"  ${{secret:{scope}/{key}}}  {status}")
    return 0


def cmd_diff(args) -> int:
    """Show what `compile` would change on disk (reference `lhp diff`,
    src/lhp/cli/commands/diff_command.py): plan every flowgroup without
    writing, compare to the on-disk output tree, one `~`/`+`/`-` line per
    changed path. --show-details prints unified diffs; --exit-code exits 1
    on a non-empty change set."""
    import difflib

    from lakehouse_plumber_spark.codegen import compile_flowgroup

    planned: dict[str, str] = {}
    skipped = False
    for fg in _discover(args):
        name = f"{fg.pipeline}__{fg.flowgroup}.py"
        try:
            planned[name] = compile_flowgroup(fg, base_dir=args.project_root)
        except NotImplementedError as e:
            print(f"skip  {fg.pipeline}/{fg.flowgroup}: {e}", file=sys.stderr)
            skipped = True
    marker = '"""Generated by lakehouse_plumber_spark.codegen'
    on_disk: dict[str, str] = {}
    if os.path.isdir(args.out):
        for base, _, files in os.walk(args.out):
            for fn in files:
                p = os.path.join(base, fn)
                rel = os.path.relpath(p, args.out)
                try:
                    with open(p) as f:
                        on_disk[rel] = f.read()
                except (OSError, UnicodeDecodeError):
                    continue
    changed = False
    for rel in sorted(set(planned) | set(on_disk)):
        if rel not in on_disk:
            mark = "+"
        elif rel not in planned:
            # mirror compile's cleanup rule exactly (ADVICE r4): compile only
            # deletes generator-owned files (__-shaped .py whose content
            # starts with the generated-file header) and deletes nothing
            # when any flowgroup was skipped — so diff must not report a
            # deletion compile would never perform, or `diff --exit-code`
            # stays permanently red on projects with user files in the
            # output tree
            fn = os.path.basename(rel)
            if skipped or os.sep in rel or not (
                # compile's cleanup only scans the top level of the out dir
                fn.endswith(".py") and "__" in fn and on_disk[rel].startswith(marker)
            ):
                continue
            mark = "-"
        elif planned[rel] != on_disk[rel]:
            mark = "~"
        else:
            continue
        changed = True
        print(f"{mark} {rel}")
        if args.show_details and mark == "~":
            sys.stdout.writelines(
                difflib.unified_diff(
                    on_disk[rel].splitlines(keepends=True),
                    planned[rel].splitlines(keepends=True),
                    fromfile=f"on-disk/{rel}",
                    tofile=f"planned/{rel}",
                )
            )
    if not changed:
        print("no changes")
    return 1 if (changed and args.exit_code) else 0


_INIT_SAMPLE_FG = """\
pipeline: quickstart
flowgroup: customer_summary
actions:
  - name: load_customers
    type: load
    source:
      type: sql
      # self-contained inline data so the quickstart runs anywhere;
      # swap for a delta/cloudfiles load against your own tables
      sql: >
        SELECT * FROM VALUES
          (1, 'Alice', 120.50, 'BUILDING'),
          (2, 'Bob',   -30.25, 'MACHINERY'),
          (3, 'Cara',  410.00, 'BUILDING'),
          (4, 'Dev',    55.75, 'AUTOMOBILE')
        AS t(c_custkey, c_name, c_acctbal, c_mktsegment)
    target: v_customers
  - name: summarize
    type: transform
    transform_type: sql
    source: v_customers
    sql: >
      SELECT c_mktsegment, COUNT(*) AS n_customers,
             ROUND(SUM(c_acctbal), 2) AS total_balance
      FROM v_customers GROUP BY c_mktsegment
    target: v_summary
  - name: write_summary
    type: write
    source: v_summary
    write_target:
      type: materialized_view
      catalog: ${catalog}
      schema: gold
      table: customer_summary
"""


def cmd_init(args) -> int:
    """Scaffold a new project (reference `lhp init`, api/bootstrap.py:34-218):
    the standard directory tree + lhp.yaml + substitutions/dev.yaml, refusing
    a non-empty target. --sample adds a runnable quickstart flowgroup
    (Databricks Asset Bundle scaffolding is out of scope for the OSS engine)."""
    import yaml

    target = os.path.abspath(args.project_root)
    if os.path.isdir(target) and os.listdir(target):
        print(f"FAIL  target directory is not empty: {target}")
        return 1
    name = args.name or os.path.basename(target)
    dirs = ["presets", "templates", "pipelines", "substitutions",
            "schemas", "expectations", "generated"]
    os.makedirs(target, exist_ok=True)
    for d in dirs:
        os.makedirs(os.path.join(target, d), exist_ok=True)
    with open(os.path.join(target, "lhp.yaml"), "w") as f:
        yaml.safe_dump({"name": name, "version": "1.0"}, f, sort_keys=False)
    with open(os.path.join(target, "substitutions", "dev.yaml"), "w") as f:
        yaml.safe_dump({"dev": {"catalog": "main"}}, f, sort_keys=False)
    created = ["lhp.yaml", "substitutions/dev.yaml"]
    if args.sample:
        sample = os.path.join(target, "pipelines", "customer_summary.yaml")
        with open(sample, "w") as f:
            f.write(_INIT_SAMPLE_FG)
        created.append("pipelines/customer_summary.yaml")
    for d in dirs:
        print(f"created {d}/")
    for c in created:
        print(f"created {c}")
    print(f"ok    project {name!r} scaffolded at {target}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m lakehouse_plumber_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    # `dag` is the reference's current name for the dependency-graph command;
    # `deps` stays as the backward-compatibility alias (reference
    # _lazy_group.py maps both to the same command)
    for name, fn in (("validate", cmd_validate), ("run", cmd_run),
                     ("compile", cmd_compile), ("deps", cmd_deps),
                     ("dag", cmd_deps), ("jobs", cmd_jobs),
                     ("diff", cmd_diff), ("list", cmd_list),
                     ("substitutions", cmd_substitutions)):
        sp = sub.add_parser(name)
        sp.add_argument("project_root")
        sp.add_argument("--env", default=None, help="substitutions/{env}.yaml tokens")
        sp.add_argument("--sandbox", default=None, metavar="NAMESPACE",
                        help="per-developer rename pass: produced tables (and "
                             "reads of them) get the {namespace}_{table} leaf")
        if name == "run":
            sp.add_argument("--perf", action="store_true",
                            help="per-operator-category timing report from the "
                                 "event log (reference performance_timer analog)")
            sp.add_argument("--backfill", default=None, metavar="COL=V1,V2",
                            help="partition-scoped re-run: materialized views "
                                 "partitioned on COL are restricted to the "
                                 "listed values and committed via dynamic "
                                 "partition overwrite (other writes run full)")
        if name == "compile":
            sp.add_argument("-o", "--out", default="generated")
            sp.add_argument("-j", "--jobs", type=int, default=1,
                            help="compile flowgroups in a spawn process pool "
                                 "(0 = ~0.8x CPUs, the reference pool sizing; "
                                 "default 1 = in-process)")
        if name in ("deps", "dag"):
            sp.add_argument("--format", choices=("text", "dot", "json"), default="text",
                            help="output format (reference output.py serializers)")
        if name == "jobs":
            sp.add_argument("--format", choices=("yaml", "json"), default="yaml",
                            help="staged job artifact format (reference "
                                 "job_generator.py emits job YAML)")
            sp.add_argument("-o", "--out", default=None,
                            help="write the artifact to a file instead of stdout")
        if name == "diff":
            sp.add_argument("-o", "--out", default="generated",
                            help="on-disk tree to compare the plan against")
            sp.add_argument("-s", "--show-details", action="store_true",
                            help="unified diff per changed file")
            sp.add_argument("--exit-code", action="store_true",
                            help="exit 1 when the change set is non-empty")
        if name == "list":
            sp.add_argument("kind", choices=("presets", "templates", "blueprints"))
            sp.add_argument("--instances", action="store_true",
                            help="show each blueprint's instances")
        sp.set_defaults(fn=fn)
    sp = sub.add_parser("init")
    sp.add_argument("project_root", help="directory to scaffold (created if absent)")
    sp.add_argument("--name", default=None, help="project name (default: dir name)")
    sp.add_argument("--sample", action="store_true",
                    help="add a runnable quickstart flowgroup")
    sp.set_defaults(fn=cmd_init)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
