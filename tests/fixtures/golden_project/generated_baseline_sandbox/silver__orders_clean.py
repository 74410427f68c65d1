"""Generated by lakehouse_plumber_spark.codegen — standalone PySpark.

Pipeline:  silver
Flowgroup: orders_clean

No engine import: this file is exactly what executes.
"""

import importlib.util
import os

from pyspark.sql import Window
from pyspark.sql import functions as F


def _load_module(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# The engine's own functions, copied verbatim at compile time from:
# lakehouse_plumber_spark/expectations.py
from dataclasses import dataclass
from typing import Optional
from pyspark.sql import DataFrame
from pyspark.sql import Observation


@dataclass(frozen=True)
class Expectation:
    name: str
    constraint: str
    action: str = "warn"  # warn | drop | fail

    def __post_init__(self):
        if self.action not in ("warn", "drop", "fail"):
            raise ValueError(f"expectation action must be warn|drop|fail, got {self.action!r}")


class ExpectationFailedError(RuntimeError):
    def __init__(self, failures: dict[str, int]):
        self.failures = failures
        super().__init__(f"fail-expectations violated: {failures}")


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


def check_failures(observation: Optional[Observation], fail_exps: list[Expectation]) -> dict[str, int]:
    """After an action ran, raise if any fail-expectation had violations."""
    if observation is None:
        return {}
    got = observation.get
    failures = {
        e.name: int(got.get(f"violations_{e.name}", 0) or 0)
        for e in fail_exps
        if int(got.get(f"violations_{e.name}", 0) or 0) > 0
    }
    if failures:
        raise ExpectationFailedError(failures)
    return {k: int(v) for k, v in got.items()}


def build(spark, out_dir):
    """Run the pipeline; writes tables under out_dir, returns {name: DataFrame}."""
    views = {}
    written = {}
    _pending_compact = {}
    _uc_tags = {}

    def _tbl_path(name):
        return os.path.join(out_dir, name.replace(".", "/"))

    def _ckpt(name):
        return os.path.join(out_dir, "_ckpt", name)

    # action: load_tagged (delta)
    df = spark.table('alice_orders_tagged')
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
    df.write.mode('overwrite').parquet(_tbl_path('main.silver.alice_orders_clean'))
    written['main.silver.alice_orders_clean'] = spark.read.parquet(_tbl_path('main.silver.alice_orders_clean'))

    # auto-compaction (lhp.autoOptimize.maxFiles), deferred to after every
    # action like the engine (operators/write.py:run_pending_compactions):
    # compacting mid-build would delete the files behind DataFrames already
    # captured in views/written. Same atomic shadow-swap as tables.py:compact,
    # rewrite sized like the engine's, cluster ordering re-applied.
    if _pending_compact:
        import glob as _glob, os as _os, shutil as _shutil, uuid as _uuid
        from pyspark.sql import functions as _F
        for _cname, (_cpath, _cmax, _cpcols, _cccols, _czauto) in _pending_compact.items():
            if len(_glob.glob(_cpath + "/**/*.parquet", recursive=True)) <= _cmax:
                continue
            _cdf = spark.read.parquet(_cpath)
            if _cpcols:
                # partition dirs own their key; morton degrades to
                # within-partition lexicographic here (engine parity,
                # tables.py:compact). Lead the sort with the partition
                # columns so the partitionBy writer's own (unstable) sort
                # is skipped and the cluster order reaches the files
                _cdf = _cdf.repartition(*[_F.col(c) for c in _cpcols])
                if _cccols:
                    _cdf = _cdf.sortWithinPartitions(
                        *(_cpcols + [c for c in _cccols if c not in _cpcols]))
            elif _czauto and _cccols:
                _rows = _cdf.count()
                _cdf = morton_layout(_cdf, _cccols, max(1, -(-_rows // 4000000)))
            else:
                _rows = _cdf.count()
                _cdf = _cdf.repartition(max(1, -(-_rows // 4000000)))
                if _cccols:
                    _cdf = _cdf.sortWithinPartitions(*_cccols)
            _shadow = _cpath + "__swap_" + _uuid.uuid4().hex[:8]
            _w = _cdf.write.mode("overwrite")
            if _cpcols:
                _w = _w.partitionBy(*_cpcols)
            _w.parquet(_shadow)
            _old = _cpath + "__old_" + _uuid.uuid4().hex[:8]
            _os.rename(_cpath, _old)
            _os.rename(_shadow, _cpath)
            _shutil.rmtree(_old, ignore_errors=True)
            # refresh only this path — clearCache() would drop every cached
            # relation in the session (engine parity: tables.py:overwrite)
            spark.catalog.refreshByPath(_cpath)
            written[_cname] = spark.read.parquet(_cpath)
    # UC tags, resolved at compile time: persisted as one artifact per build
    # (the generated-code analogue of the reference's tagging hook; a
    # UC-backed deployment turns these into ALTER TABLE ... SET TAGS)
    if _uc_tags:
        import json as _json
        with open(os.path.join(out_dir, "_uc_tags.json"), "w") as _tf:
            _json.dump(
                {k: {"table_tags": v[0], "column_tags": v[1]}
                 for k, v in _uc_tags.items()},
                _tf, indent=2, sort_keys=True)
    return written
