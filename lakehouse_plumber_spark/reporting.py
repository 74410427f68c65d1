"""Test-reporting hook: publish DQ test outcomes to pluggable reporters.

Reference ships a generated event hook that accumulates per-flow expectation
metrics and, at pipeline terminal state, calls a user provider function
``publish_results(results, config, context, spark) -> {"published": N,
"failed": M}`` (templates/test_reporting/hook.py.j2:1-115; providers/
delta_test_reporter.py:38-120). In the executing engine the hook is
first-party: test operators append structured rows to
``BuildContext.test_results`` and ``PipelineRunner`` publishes them after the
run — on success AND on failure (the reference's terminal states include
FAILED/CANCELED).

Config, on the flowgroup (same YAML shape as the reference's lhp.yaml
``test_reporting`` block):

    test_reporting:
      module_path: providers/my_reporter.py   # or callable_fn in-process
      function_name: publish_results
      config: {result_table: audit.lhp_test_results}

The built-in ``store_test_reporter`` is the reference delta_test_reporter
re-expressed against the engine's table store: appends one row per test to a
result table. Scale: results are O(test actions) — driver-side rows, a single
tiny append; nothing here touches the data plane.
"""

from __future__ import annotations

from typing import Any, Callable, Optional

_TERMINAL_OK = "COMPLETED"
_TERMINAL_FAIL = "FAILED"


def result_table(config: dict) -> str:
    """The table `store_test_reporter` appends to for a test_reporting
    block's `config`: its `result_table`, else `_audit.lhp_test_results`."""
    return config.get("result_table", "_audit.lhp_test_results")


def store_test_reporter(results: list[dict], config: dict, context: dict, spark) -> dict:
    """Built-in provider: append results to a store table
    (≙ reference providers/delta_test_reporter.py:38-120).

    ``context["store"]`` carries the runner's table store; the target is
    ``result_table(config)``."""
    store = context.get("store")
    table = result_table(config)
    if store is None or not results:
        return {"published": 0, "failed": len(results)}
    if config.get("dry_run"):
        return {"published": 0, "failed": 0}
    rows = [
        (
            context.get("pipeline_name", ""),
            context.get("run_id", ""),
            context.get("terminal_state", ""),
            r.get("test_id", ""),
            r.get("flow_name", ""),
            r.get("expectation_name", ""),
            r.get("failed_records"),
            r.get("status", ""),
            r.get("collected_at", ""),
        )
        for r in results
    ]
    df = spark.createDataFrame(
        rows,
        "pipeline_name string, run_id string, terminal_state string, test_id string, "
        "flow_name string, expectation_name string, failed_records long, status string, "
        "collected_at string",
    )
    store.append(table, df)
    return {"published": len(rows), "failed": 0}


def _resolve_provider(cfg: dict, base_dir: str) -> Callable:
    if cfg.get("callable_fn"):
        return cfg["callable_fn"]
    module_path = cfg.get("module_path")
    if not module_path:
        return store_test_reporter
    import os

    from lakehouse_plumber_spark.operators.load import _import_module

    path = module_path if os.path.isabs(module_path) else os.path.join(base_dir, module_path)
    mod = _import_module(path, "lhp_test_reporter")
    return getattr(mod, cfg.get("function_name", "publish_results"))


def publish_test_results(ctx, terminal_state: str, reporting_cfg: Optional[dict[str, Any]] = None) -> Optional[dict]:
    """Post-run hook body: resolve the provider and hand it the results.

    Publish failures are contained (logged, never raised) exactly like the
    reference hook's try/except around the provider call (hook.py.j2:104-115):
    a broken reporter must not fail the pipeline.
    """
    cfg = reporting_cfg if reporting_cfg is not None else getattr(ctx.flowgroup, "test_reporting", None)
    if not cfg or not ctx.test_results:
        return None
    if not isinstance(cfg, dict):
        cfg = dict(cfg)
    try:
        # provider resolution is inside the containment too: a bad
        # module_path/function_name is a broken reporter, and must neither
        # fail a green pipeline nor mask the original error on the FAILED path
        provider = _resolve_provider(cfg, ctx.base_dir)
        context = {
            "pipeline_name": ctx.flowgroup.pipeline,
            "pipeline_id": ctx.flowgroup.pipeline,
            "update_id": ctx.run_id,
            "run_id": ctx.run_id,
            "terminal_state": terminal_state,
            "store": ctx.store,
        }
        out = provider(
            results=list(ctx.test_results),
            config=dict(cfg.get("config") or {}),
            context=context,
            spark=ctx.spark,
        )
        ctx.log(
            "test_reporting",
            "results_published",
            published=(out or {}).get("published", 0),
            failed=(out or {}).get("failed", 0),
            terminal_state=terminal_state,
        )
        return out
    except Exception as e:  # containment, mirroring the reference hook
        ctx.log("test_reporting", "publish_failed", error=str(e))
        return None
