"""Data-quality expectations: parse + enforce with metrics.

Reference semantics (src/lhp/core/processing/dqe.py:11-75): expectations are
named boolean SQL constraints with action warn|drop|fail, parsed from either a
list format [{name, constraint, action}] or a dict format
{name: constraint-or-{constraint, action}}; files may be JSON or YAML.

Enforcement is Spark-native:
- warn: rows pass through; violation counts recorded via `df.observe`
  (aggregates piggyback on the job — no extra pass over the data).
- drop: `df.filter(constraint)`; dropped counts observed the same way.
- fail: violations abort the batch (checked per-microbatch in streams).
"""

from __future__ import annotations

import functools
import json
from dataclasses import dataclass
from typing import Any, Optional

import yaml
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


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


_TYPE_TO_ACTION = {"expect": "warn", "expect_or_drop": "drop", "expect_or_fail": "fail"}


def _item_action(item: dict) -> str:
    """Reference precedence (dqe.py:20-31): failureAction overrides type."""
    fa = str(item.get("failureAction", "")).lower()
    if fa in ("warn", "drop", "fail"):
        return fa
    if "action" in item:
        return str(item["action"]).lower()
    return _TYPE_TO_ACTION.get(str(item.get("type", "expect")).lower(), "warn")


def parse_expectations(spec: Any) -> list[Expectation]:
    """Parse list/dict expectation formats (reference dqe.py:11-75).

    Accepts the reference's aliases: `constraint` | `expression` for the SQL
    text; `name` | `message` for the label; `failureAction` | `type`
    (expect/expect_or_drop/expect_or_fail) | engine-native `action` for the
    policy.
    """
    out: list[Expectation] = []
    if isinstance(spec, dict) and "expectations" in spec:
        spec = spec["expectations"]
    if isinstance(spec, list):
        for item in spec:
            if isinstance(item, dict):
                constraint = item.get("constraint") or item.get("expression")
                if not constraint:
                    raise ValueError(f"expectation missing constraint/expression: {item!r}")
                out.append(
                    Expectation(
                        name=item.get("name") or item.get("message") or constraint[:40],
                        constraint=constraint,
                        action=_item_action(item),
                    )
                )
            else:
                raise TypeError(f"bad expectation entry: {item!r}")
    elif isinstance(spec, dict):
        for key, val in spec.items():
            if isinstance(val, str):
                out.append(Expectation(name=key, constraint=val))
            elif isinstance(val, dict):
                # two dict shapes: {name: {constraint,...}} (engine-native) or
                # {constraint: {name, action}} (reference dqe.py:88-91)
                constraint = val.get("constraint") or val.get("expression") or key
                name = key if constraint is not key else val.get("name") or val.get("message") or key[:40]
                out.append(
                    Expectation(name=name, constraint=constraint, action=_item_action(val))
                )
            else:
                raise TypeError(f"bad expectation value for {key!r}: {val!r}")
    else:
        raise TypeError(f"bad expectations spec: {type(spec)}")
    return out


def load_expectations_file(path: str) -> list[Expectation]:
    """Expectations from a JSON or YAML file. One file is shared by many
    data_quality actions, so the parse is memoized on the file's bytes: an
    edited file misses, and each call gets its own list."""
    with open(path, "rb") as f:
        data = f.read()
    return list(_parse_expectations_text(data, path.endswith(".json")))


@functools.lru_cache(maxsize=64)
def _parse_expectations_text(data: bytes, is_json: bool) -> tuple[Expectation, ...]:
    return tuple(parse_expectations(json.loads(data) if is_json else yaml.safe_load(data)))


def combined_predicate(exps: list[Expectation]) -> Optional[str]:
    """AND of all constraints (the clean-path predicate)."""
    if not exps:
        return None
    return " AND ".join(f"({e.constraint})" for e in exps)


def inverse_predicate(exps: list[Expectation]) -> Optional[str]:
    """NOT(AND(...)) with null-safety: a row quarantines when any constraint is
    false OR null (matches expect_all_or_drop keeping only true rows)."""
    if not exps:
        return None
    return " OR ".join(f"NOT coalesce(({e.constraint}), false)" for e in exps)


def apply_expectations(
    df: DataFrame,
    exps: list[Expectation],
    observation_name: str = "dq",
) -> tuple[DataFrame, Optional[Observation], list[Expectation]]:
    """Apply warn/drop semantics; return (df, observation, fail_expectations).

    The observation carries `violations_<name>` counters for every expectation
    plus `rows_total`; callers read `observation.get` after an action runs.
    Fail expectations are returned for the caller to assert on (batch: after
    materialization; streaming: per micro-batch) — the count is also observed.
    """
    if not exps:
        return df, None, []
    obs = Observation(observation_name)
    metrics = [F.count(F.lit(1)).alias("rows_total")]
    for e in exps:
        metrics.append(
            F.sum(
                F.when(~F.coalesce(F.expr(e.constraint), F.lit(False)), 1).otherwise(0)
            ).alias(f"violations_{e.name}")
        )
    df = df.observe(obs, *metrics)
    drop_exps = [e for e in exps if e.action == "drop"]
    fail_exps = [e for e in exps if e.action == "fail"]
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
