"""YAML flowgroup parsing: discovery, presets, templates, substitution.

Pipeline mirrors the reference's resolution order
(src/lhp/core/processing/flowgroup_resolver.py:66-253): local %{var}
variables -> Jinja template expansion -> preset deep-merge chain -> ${token}
substitution -> secret binding -> validation.

Shared inputs are resolved once per discovery, not once per flowgroup that
names them: each preset and template file is read and hashed once, each
preset is parsed once, and each template has its `parameters:` declaration
parsed and is compiled to a `jinja2.Template` once (`_discovery_memo`). The
memo lives for one `discover_flowgroups` call (a standalone `load_flowgroup`
gets a fresh one), so an edit between two discoveries is always seen;
failures are never memoized, so every flowgroup that hits one raises the
same `SpecError`.

Discovery keeps three content-addressed caches (`parse_cache`), so work is
not redone across CLI processes either:

- flowgroup files and rendered template text parse through the ``parse``
  cache, preset and template files through the ``shared`` cache;
- each flowgroup's resolved spec (after the template, the preset chain and
  `%{var}`/`${token}` substitution; `${secret:...}` refs still in place) is
  kept in the ``resolved`` cache under a key over the code stamp
  (`_code_stamp`), the token map, the preset and template dirs and the
  flowgroup file's bytes (a blueprint-expanded flowgroup: its spec's
  canonical JSON). An entry also lists every preset and template file the
  resolution read, with its sha256, and is used only while all of them
  still match. A hit costs a file hash, an unpickle, the secret binding and
  `FlowGroup.model_validate`; it skips `validate_flowgroup_graph`, a pure
  function of the spec and of code in the key that passed when the entry
  was written, unless binding changed the spec. Entries are written only
  after validation passed.

Secrets are bound after every other substitution, on both paths
(`substitution.bind_secrets`), so no secret value is written under `.lhp/`.
`LHP_NO_PARSE_CACHE=1` turns all three caches off.
"""

from __future__ import annotations

import copy
import functools
import glob
import hashlib
import json
import os
from typing import Any, Callable, Mapping, Optional

import yaml
from pydantic import ValidationError as PydanticValidationError

from lakehouse_plumber_spark.dag import validate_flowgroup_graph
from lakehouse_plumber_spark.models import FlowGroup, SpecError
from lakehouse_plumber_spark.substitution import bind_secrets, substitute_tokens

# the modules whose source decides a flowgroup's resolution and validation
# (dag's cloudfiles option check reads operators/load.py's option table)
_STAMPED = ("parsers.py", "substitution.py", "models.py", "blueprints.py", "dag.py",
            os.path.join("operators", "load.py"))


@functools.lru_cache(maxsize=None)
def _code_stamp() -> str:
    """sha256 over the source of the `_STAMPED` modules: any edit to the
    code that resolves or validates a spec makes every resolved entry
    unreachable. Computed at the first discovery, not at import."""
    h = hashlib.sha256()
    pkg = os.path.dirname(os.path.abspath(__file__))
    for rel in _STAMPED:
        with open(os.path.join(pkg, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def deep_merge(base: dict, override: dict) -> dict:
    """Preset deep-merge (reference flowgroup_resolver.py:255-312): dicts merge
    recursively, scalars/lists in the override win. The result shares no
    mutable object with either input, and each value is copied once."""
    out = {}
    for k in {**base, **override}:
        if k not in override:
            out[k] = copy.deepcopy(base[k])
        elif isinstance(base.get(k), dict) and isinstance(override[k], dict):
            out[k] = deep_merge(base[k], override[k])
        else:
            out[k] = copy.deepcopy(override[k])
    return out


def _discovery_memo(parse_cache=None, shared_cache=None) -> dict:
    """Shared inputs resolved once per discovery:

    - ``files``: each preset and template file's (sha256, bytes), by path;
    - ``presets``: parsed preset dicts, and ``templates``: template files'
      raw text and declared `parameters`, by path;
    - ``jinja``: compiled templates, by their text.

    And what the current resolution read, which `load_flowgroup` resets:
    ``reads`` (preset and template path -> sha256) and ``names`` (the
    parse-cache entries of its rendered templates); ``resolved`` is its
    spec before secrets were bound, and ``secrets`` whether binding changed
    it. `parse_cache` parses rendered template text and `shared_cache`
    preset and template files (each a `ParseCache` or None). Memoized values
    are never mutated."""
    return {"parse_cache": parse_cache, "shared_cache": shared_cache, "files": {},
            "presets": {}, "templates": {}, "jinja": {}, "reads": {}, "names": [],
            "resolved": None, "secrets": False}


def _shared_file(path: str, memo: dict) -> Optional[tuple[str, bytes]]:
    """A preset or template file's (sha256, bytes), read once per discovery;
    None when it does not exist."""
    got = memo["files"].get(path)
    if got is None:
        try:
            with open(path, "rb") as f:
                data = f.read()
        except FileNotFoundError:
            return None
        got = memo["files"][path] = (hashlib.sha256(data).hexdigest(), data)
    return got


def _parse_shared(data: bytes, memo: dict) -> Any:
    cache = memo["shared_cache"]
    return cache.load_text(data) if cache is not None else yaml.safe_load(data)


def _load_presets(preset_names: list[str], presets_dir: Optional[str], memo: dict) -> dict:
    merged: dict = {}
    for name in preset_names:
        if not presets_dir:
            raise SpecError(f"preset {name!r} requested but no presets_dir given")
        path = os.path.join(presets_dir, f"{name}.yaml")
        file = _shared_file(path, memo)
        if file is None:
            raise SpecError(f"preset {name!r}: file not found: {path}")
        memo["reads"][path] = file[0]
        preset = memo["presets"].get(path)
        if preset is None:
            preset = memo["presets"][path] = _parse_shared(file[1], memo) or {}
        # presets may themselves extend other presets
        parent = preset.get("extends")
        if parent:
            merged = deep_merge(merged, _load_presets([parent], presets_dir, memo))
        if "defaults" in preset:
            defaults = preset["defaults"]
        else:
            defaults = {k: v for k, v in preset.items() if k != "extends"}
        merged = deep_merge(merged, defaults)
    return merged


def _extract_parameters_block(raw: str) -> list:
    """Pull the top-level `parameters:` block out of a template whose full
    text is not valid YAML (unquoted Jinja scalars elsewhere). The block
    spans from the `parameters:` line to the next unindented key."""
    lines = raw.splitlines()
    start = None
    for i, ln in enumerate(lines):
        if ln.startswith("parameters:"):
            start = i
            break
    if start is None:
        return []
    block = [lines[start]]
    for ln in lines[start + 1:]:
        # the block ends at the next top-level KEY or a document separator;
        # zero-indent sequence items ("- name: x") and comments belong to
        # the block
        if ln.startswith("---"):
            break
        if ln and not ln[0].isspace() and not ln.lstrip().startswith(("-", "#")):
            break
        block.append(ln)
    try:
        parsed = yaml.safe_load("\n".join(block)) or {}
    except yaml.YAMLError:
        return []
    decl = parsed.get("parameters")
    return decl if isinstance(decl, list) else []


def _template_file(name: str, templates_dir: str, memo: dict) -> tuple[str, Any]:
    """A template's raw text and its declared `parameters` (None when it
    declares none), read and parsed once per discovery."""
    path = os.path.join(templates_dir, f"{name}.yaml")
    file = _shared_file(path, memo)
    if file is None:
        raise SpecError(f"template {name!r}: file not found: {path}")
    memo["reads"][path] = file[0]
    entry = memo["templates"].get(path)
    if entry is not None:
        return entry
    raw = file[1].decode()
    # the template's own `parameters:` block declares defaults and required
    # params (reference template_engine.py:106,129-155: defaults applied,
    # missing required -> clean error, BEFORE rendering). A full YAML
    # pre-parse fails for any template with an unquoted `{{ x }}` scalar —
    # the common case — so when it does, fall back to parsing just the
    # top-level `parameters:` block textually (its declarations are plain
    # YAML by construction; only values elsewhere carry Jinja).
    try:
        pre = _parse_shared(file[1], memo) or {}
    except yaml.YAMLError:
        pre = {"parameters": _extract_parameters_block(raw)}
    declared = pre.get("parameters") if isinstance(pre, dict) else None
    entry = memo["templates"][path] = (raw, declared)
    return entry


def _expand_template(
    spec: dict, templates_dir: Optional[str], params: Mapping[str, Any], memo: dict
) -> dict:
    """`use_template` expansion via Jinja2 (reference template_engine.py)."""
    name = spec.get("use_template")
    if not name:
        return spec
    if not templates_dir:
        raise SpecError(f"template {name!r} requested but no templates_dir given")
    import jinja2

    raw, declared = _template_file(name, templates_dir, memo)
    final_params = dict(params)
    if isinstance(declared, list):
        missing = []
        for p in declared:
            if not isinstance(p, dict) or "name" not in p:
                continue
            if p["name"] in final_params:
                continue
            if "default" in p:
                final_params[p["name"]] = p["default"]
            elif p.get("required", False):
                missing.append(p["name"])
        if missing:
            raise SpecError(
                f"template {name!r}: missing required parameters {sorted(missing)}"
            )
    try:
        compiled = memo["jinja"].get(raw)
        if compiled is None:
            compiled = jinja2.Template(raw, undefined=jinja2.StrictUndefined)
            memo["jinja"][raw] = compiled
        rendered = compiled.render(**final_params)
    except (jinja2.UndefinedError, jinja2.TemplateSyntaxError) as e:
        # StrictUndefined and syntax failures become the same clean spec
        # error the declared-parameter check raises (not a raw Jinja
        # traceback) so `validate` reports a FAIL line
        raise SpecError(f"template {name!r}: {getattr(e, 'message', None) or e}") from e
    cache = memo["parse_cache"]
    if cache is not None:
        data = rendered.encode()
        memo["names"].append(cache.name(data))
        template = cache.load_text(data) or {}
    else:
        template = yaml.safe_load(rendered) or {}
    merged = deep_merge({k: v for k, v in template.items() if k != "parameters"}, spec)
    merged.pop("use_template", None)
    merged.pop("template_parameters", None)
    return merged


def _expand_variable_definitions(variables: dict) -> dict:
    """Variables may reference other variables; expand definitions to a fixed
    point (reference local_variables.py:35-58, 10-iteration circularity cap)."""
    out = dict(variables)
    for _ in range(10):
        changed = False
        for name, value in out.items():
            if isinstance(value, str) and "%{" in value:
                new = substitute_tokens(value, variables=out, strict=False)
                if new != value:
                    out[name] = new
                    changed = True
        if not changed:
            return out
    raise SpecError(
        "variable expansion did not converge in 10 iterations "
        f"(likely circular reference among {sorted(out)})"
    )


def load_flowgroup(
    spec: dict,
    tokens: Optional[Mapping[str, Any]] = None,
    secrets: Optional[Mapping[str, str]] = None,
    presets_dir: Optional[str] = None,
    templates_dir: Optional[str] = None,
    validate: bool = True,
    memo: Optional[dict] = None,
) -> FlowGroup:
    """Resolve a raw YAML dict into a validated FlowGroup model. `memo`
    (`_discovery_memo`) shares parsed presets and templates across the
    flowgroups of one discovery, and records what this resolution read and
    its spec before secrets were bound; without it the call resolves its
    own. `spec` is not mutated: the merges copy, and `substitute_tokens`
    rebuilds every dict and list."""
    if memo is None:
        memo = _discovery_memo()
    memo["reads"], memo["names"] = {}, []
    spec = _expand_template(
        spec, templates_dir, spec.get("template_parameters", {}) or {}, memo
    )
    preset_defaults = _load_presets(spec.get("presets", []) or [], presets_dir, memo)
    if preset_defaults:
        # presets provide defaults under the flowgroup (actions keep their own fields)
        spec = deep_merge(preset_defaults, spec)
    # %{var} resolution sees the MERGED variable set — template- and
    # preset-provided variables are referenceable, with the flowgroup's own
    # declarations winning (deep_merge puts spec over preset defaults)
    variables = _expand_variable_definitions(spec.get("variables", {}) or {})
    spec = memo["resolved"] = substitute_tokens(spec, tokens=tokens, variables=variables)
    bound = bind_secrets(spec, secrets)
    memo["secrets"] = bound is not spec
    fg = _model(bound)
    if validate:
        validate_flowgroup_graph(fg.actions)
    return fg


def _model(spec: dict) -> FlowGroup:
    try:
        return FlowGroup.model_validate(spec)
    except PydanticValidationError as e:
        # user-authored spec defects report as spec errors, not tracebacks
        raise SpecError(str(e)) from e


def load_flowgroup_file(
    path: str,
    tokens: Optional[Mapping[str, Any]] = None,
    secrets: Optional[Mapping[str, str]] = None,
    presets_dir: Optional[str] = None,
    templates_dir: Optional[str] = None,
) -> FlowGroup:
    with open(path) as f:
        spec = yaml.safe_load(f)
    base = os.path.dirname(os.path.abspath(path))
    return load_flowgroup(
        spec,
        tokens=tokens,
        secrets=secrets,
        presets_dir=presets_dir or _find_dir(base, "presets"),
        templates_dir=templates_dir or _find_dir(base, "templates"),
    )


_project_config_cache: dict[tuple, object] = {}


def load_project_config(project_root: str):
    """Read lhp.yaml at the project root, or None when absent (reference
    ProjectConfig, src/lhp/models/_project.py). Defects are SpecErrors.
    Cached on (path, mtime): one CLI invocation touches this up to three
    times (discovery, sandbox policy, runner wiring)."""
    from lakehouse_plumber_spark.models import ProjectConfig

    path = os.path.join(project_root, "lhp.yaml")
    if not os.path.exists(path):
        return None
    import hashlib

    with open(path, "rb") as f:
        raw = f.read()
    # content-hash key (not mtime: coarse filesystem timestamps would serve
    # a stale config after a same-second rewrite)
    key = hashlib.sha256(raw).hexdigest()
    if key in _project_config_cache:
        return _project_config_cache[key]
    try:
        spec = yaml.safe_load(raw) or {}
    except yaml.YAMLError as e:
        raise SpecError(f"lhp.yaml: {e}") from e
    try:
        cfg = ProjectConfig.model_validate(spec)
    except PydanticValidationError as e:
        raise SpecError(f"lhp.yaml: {e}") from e
    _project_config_cache.clear()  # keep exactly one entry (tests mutate files)
    _project_config_cache[key] = cfg
    return cfg


def discover_flowgroups(
    project_root: str,
    tokens: Optional[Mapping[str, Any]] = None,
    include: Optional[list[str]] = None,
) -> list[FlowGroup]:
    """Scan `pipelines/**/*.yaml` honoring include globs
    (reference: src/lhp/core/discovery/flowgroup_discoverer.py).

    Files under the scan may be regular flowgroups, blueprint definitions, or
    blueprint instances; blueprints may also live in a sibling `blueprints/`
    directory. Instances expand to synthetic flowgroups before resolution
    (reference: src/lhp/core/processing/blueprint_expander.py).
    """
    from lakehouse_plumber_spark.blueprints import (
        Blueprint,
        BlueprintInstance,
        expand_blueprints,
        looks_like_blueprint,
        looks_like_instance,
    )

    whole_project = include is None
    project_cfg = load_project_config(project_root)
    if include is None and project_cfg is not None and project_cfg.include:
        # lhp.yaml include globs scope discovery, relative to pipelines/
        # (reference flowgroup_discoverer honors ProjectConfig.include)
        include = [os.path.join("pipelines", pat) for pat in project_cfg.include]
    patterns = include or ["pipelines/**/*.yaml", "pipelines/**/*.yml"]
    paths: list[str] = []
    for pat in patterns:
        paths.extend(
            p for p in glob.glob(os.path.join(project_root, pat), recursive=True)
            # include globs like "one/**" also match directories and
            # non-YAML files; discovery only reads flowgroup YAML
            if os.path.isfile(p) and p.endswith((".yaml", ".yml"))
        )
    bp_dir = _find_dir(project_root, "blueprints")
    bp_paths = sorted(glob.glob(os.path.join(bp_dir, "*.yaml"))) if bp_dir else []

    from lakehouse_plumber_spark.parse_cache import MISSING, cache_for

    cache = cache_for(project_root)
    resolved = cache_for(project_root, "resolved")
    shared = cache_for(project_root, "shared")
    memo = _discovery_memo(cache, shared)
    presets_dir = _find_dir(project_root, "presets")
    templates_dir = _find_dir(project_root, "templates")
    key_base = (_resolution_base(tokens, presets_dir, templates_dir)
                if resolved is not None else None)
    blueprints: dict[str, Blueprint] = {}
    instances: list[BlueprintInstance] = []
    out: list[FlowGroup] = []

    def _classify(path: str, spec: dict) -> Optional[FlowGroup]:
        try:
            if looks_like_blueprint(spec):
                bp = Blueprint.model_validate(spec)
                blueprints[bp.name] = bp
                return None
            if looks_like_instance(spec):
                inst = BlueprintInstance.model_validate({**spec, "source": path})
                instances.append(inst)
                return None
        except PydanticValidationError as e:
            raise SpecError(f"{path}: {e}") from e
        return _load(spec)

    def _load(spec: dict) -> FlowGroup:
        return load_flowgroup(
            spec, tokens=tokens, presets_dir=presets_dir, templates_dir=templates_dir,
            memo=memo,
        )

    def _read_yaml(p: str, data: Optional[bytes] = None) -> dict:
        try:
            if cache is not None:
                return cache.load_yaml(p, data) or {}
            if data is None:
                with open(p, "rb") as f:
                    data = f.read()
            return yaml.safe_load(data) or {}
        except yaml.YAMLError as e:
            # malformed user YAML is a spec defect, not an engine traceback
            raise SpecError(f"{p}: {e}") from e

    def _cached(key: str) -> Optional[FlowGroup]:
        """The flowgroup stored under `key`, if every file its resolution
        read is unchanged."""
        entry = resolved.get(key)
        if entry is MISSING:
            return None
        for path, digest in entry["deps"]:
            file = _shared_file(path, memo)
            if file is None or file[0] != digest:
                return None
        # keep the entries it was resolved from live for prune(); a shared
        # file's entry is named by its sha256 (`ParseCache.name`)
        cache.used.update(entry["parse"])
        shared.used.update(digest + ".pkl" for _, digest in entry["deps"])
        if not entry["secrets"]:
            return _model(entry["spec"])
        fg = _model(bind_secrets(entry["spec"]))
        # the graph checks passed on the secret values bound at write time
        validate_flowgroup_graph(fg.actions)
        return fg

    def _flowgroup(kind: bytes, data: Optional[bytes],
                   build: Callable[[], Optional[FlowGroup]]) -> Optional[FlowGroup]:
        """The flowgroup resolved from `data` (a flowgroup file's bytes or a
        synthetic spec's JSON): from the resolved cache when it has a
        current entry, else from `build()` (None for a blueprint or an
        instance file), stored once it validated."""
        if key_base is None or data is None:
            return build()
        h = key_base.copy()
        h.update(kind)
        h.update(data)
        key = h.hexdigest() + ".pkl"
        fg = _cached(key)
        if fg is None:
            fg = build()
            if fg is not None:
                own = [cache.name(data)] if kind == b"file" else []
                resolved.put(key, {"spec": memo["resolved"], "secrets": memo["secrets"],
                                   "deps": sorted(memo["reads"].items()),
                                   "parse": own + memo["names"]})
        return fg

    for p in bp_paths:
        try:
            bp = Blueprint.model_validate(_read_yaml(p))
        except PydanticValidationError as e:
            raise SpecError(f"{p}: {e}") from e
        blueprints[bp.name] = bp
    for p in sorted(set(paths)):
        with open(p, "rb") as f:
            data = f.read()
        fg = _flowgroup(b"file", data, lambda: _classify(p, _read_yaml(p, data)))
        if fg is not None:
            out.append(fg)
    for synthetic in expand_blueprints(blueprints, instances):
        out.append(_flowgroup(b"spec", _canonical(synthetic), lambda: _load(synthetic)))
    if whole_project:
        # every live input was read or written above: the rest is garbage
        for c in (cache, shared, resolved):
            if c is not None:
                c.prune()
    return out


def _resolution_base(
    tokens: Optional[Mapping[str, Any]], presets_dir: Optional[str], templates_dir: Optional[str]
):
    """The sha256 state every resolved-cache key of one discovery starts
    from: the code stamp, the preset and template dirs, and the token map in
    canonical form (each value as substitution inserts it, `str()`)."""
    h = hashlib.sha256(_code_stamp().encode())
    canon = sorted((repr(k), str(v)) for k, v in (tokens or {}).items())
    h.update(json.dumps([presets_dir, templates_dir, canon]).encode())
    return h


def _canonical(spec: dict) -> Optional[bytes]:
    """A synthetic spec's canonical JSON; None when JSON cannot order its
    keys (then it is resolved without the cache). Non-JSON values (YAML
    dates) are written with their type."""
    try:
        return json.dumps(spec, sort_keys=True,
                          default=lambda o: f"<{type(o).__qualname__}>{o!r}").encode()
    except (TypeError, ValueError):
        return None


def _find_dir(root: str, name: str) -> Optional[str]:
    cur = root
    for _ in range(6):
        cand = os.path.join(cur, name)
        if os.path.isdir(cand):
            return cand
        nxt = os.path.dirname(cur)
        if nxt == cur:
            break
        cur = nxt
    return None
