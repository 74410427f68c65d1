"""Token / variable / secret substitution for flowgroup specs.

Reference semantics (src/lhp/core/processing/substitution.py:42-45,238 and
src/lhp/core/processing/local_variables.py): ``${token}`` env substitutions,
``%{var}`` flowgroup-local variables, ``${secret:scope/key}`` secret refs.
In this OSS engine secrets resolve from environment variables
(``LHP_SECRET_<SCOPE>_<KEY>``) or a provided mapping — there is no dbutils.

Secrets are bound last, in a pass of their own (`bind_secrets`): resolution
(`substitute_tokens`) leaves ``${secret:...}`` refs in place, as the
reference's placeholders do (SURVEY §3.1 step 4), so a resolved spec can be
cached without any secret value in it. Two consequences: a secret value is
inserted verbatim (a ``${x}`` or ``%{x}`` inside it is not substituted),
and a token whose value is a ``${secret:...}`` ref resolves to the secret.
"""

from __future__ import annotations

import os
import re
from typing import Any, Mapping, Optional

_TOKEN = re.compile(r"\$\{([A-Za-z0-9_.\-]+)\}")
_SECRET = re.compile(r"\$\{secret:([A-Za-z0-9_\-]+)/([A-Za-z0-9_\-]+)\}")
_LOCAL = re.compile(r"%\{([A-Za-z0-9_.\-]+)\}")


from lakehouse_plumber_spark.models import SpecError


class UnresolvedTokenError(SpecError):
    pass


def _sub_str(
    s: str,
    tokens: Mapping[str, Any],
    variables: Mapping[str, Any],
    strict: bool,
) -> str:
    def local_repl(m: re.Match) -> str:
        name = m.group(1)
        if name in variables:
            return str(variables[name])
        if strict:
            raise UnresolvedTokenError(f"unresolved local variable %{{{name}}}")
        return m.group(0)

    def token_repl(m: re.Match) -> str:
        name = m.group(1)
        if name in tokens:
            return str(tokens[name])
        if strict:
            raise UnresolvedTokenError(f"unresolved token ${{{name}}}")
        return m.group(0)

    s = _LOCAL.sub(local_repl, s)
    s = _TOKEN.sub(token_repl, s)
    return s


def substitute_tokens(
    obj: Any,
    tokens: Optional[Mapping[str, Any]] = None,
    variables: Optional[Mapping[str, Any]] = None,
    strict: bool = True,
) -> Any:
    """Recursively substitute local ``%{var}`` refs, then ``${token}`` refs,
    in any YAML-derived structure, leaving ``${secret:...}`` refs in place.
    Every dict and list is rebuilt. ``strict=True`` raises on unresolved
    refs (reference: flowgroup_resolver.py:164-188 unresolved-token
    validation)."""
    tokens = tokens or {}
    variables = variables or {}

    def sub(o: Any) -> Any:
        if isinstance(o, str):
            return _sub_str(o, tokens, variables, strict)
        if isinstance(o, dict):
            return {k: sub(v) for k, v in o.items()}
        if isinstance(o, list):
            return [sub(v) for v in o]
        return o

    return sub(obj)


def bind_secrets(
    obj: Any, secrets: Optional[Mapping[str, str]] = None, strict: bool = True
) -> Any:
    """Resolve only ``${secret:scope/key}`` refs, from `secrets` or else
    ``LHP_SECRET_<SCOPE>_<KEY>``; values are inserted verbatim. Parts of
    `obj` that hold no ref are returned as they are, so ``bind_secrets(x)
    is x`` exactly when `x` holds no resolvable ref. ``strict=True`` raises
    on an unresolved ref."""

    def repl(m: re.Match) -> str:
        scope, key = m.group(1), m.group(2)
        if secrets and f"{scope}/{key}" in secrets:
            return str(secrets[f"{scope}/{key}"])
        env_key = f"LHP_SECRET_{scope.upper()}_{key.upper()}"
        if env_key in os.environ:
            return os.environ[env_key]
        if strict:
            raise UnresolvedTokenError(f"unresolved secret ${{secret:{scope}/{key}}}")
        return m.group(0)

    def bind(o: Any) -> Any:
        if isinstance(o, str):
            if "${secret:" not in o:
                return o
            new = _SECRET.sub(repl, o)
            return o if new == o else new
        if isinstance(o, (dict, list)):
            items = o.items() if isinstance(o, dict) else enumerate(o)
            out = None
            for k, v in items:
                nv = bind(v)
                if nv is not v:
                    if out is None:
                        out = o.copy()
                    out[k] = nv
            return o if out is None else out
        return o

    return bind(obj)


def substitute(
    obj: Any,
    tokens: Optional[Mapping[str, Any]] = None,
    variables: Optional[Mapping[str, Any]] = None,
    secrets: Optional[Mapping[str, str]] = None,
    strict: bool = True,
) -> Any:
    """`substitute_tokens`, then `bind_secrets`: local ``%{var}`` first,
    then ``${token}``, then ``${secret:...}``."""
    return bind_secrets(substitute_tokens(obj, tokens, variables, strict), secrets, strict)
