"""Content-addressed discovery caches under ``.lhp/cache/<kind>``.

Reference parity: persistent on-disk parse cache
(src/lhp/parsers/parse_cache.py, wired at orchestrator.py:152-158). YAML
parsing is the dominant compile-side cost for 100-pipeline projects; keying
by the sha256 of the file BYTES makes staleness impossible by construction —
an edited file simply misses and re-parses, and the old entry becomes
garbage. A discovery that scanned the whole project calls `prune()`, which
removes every entry that discovery neither read nor wrote, so the cache
holds one entry per live input; `clear()` removes them all.

Discovery keeps three caches of this one class, one kind of entry per
directory:

- ``parse``: flowgroup and blueprint files (`load_yaml(path)`) and the
  rendered text of a `use_template` flowgroup (`load_text(data)`, called by
  `parsers._expand_template`). A rendered template is keyed by the hash of
  its text, so it re-parses only after an edit to the template or to the
  flowgroup's `template_parameters`.
- ``shared``: preset and template files, parsed once per discovery and
  read back from here by the next one.
- ``resolved``: each flowgroup's resolved spec, stored with `put` and read
  with `get` under a key that `parsers` derives from everything resolution
  reads (see `parsers.discover_flowgroups`). Secret refs are still in place
  there: secret values are bound after the cache and never written.

Entries are pickles written atomically (tmp + rename) so concurrent
discoveries never observe torn files. Any read failure is a miss — the
cache can only ever be a speedup, never a correctness input.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import tempfile
from typing import Any, Optional

import yaml

MISSING = object()  # `get`'s answer when there is no readable entry


class ParseCache:
    def __init__(self, project_root: str, kind: str = "parse") -> None:
        self.dir = os.path.join(project_root, ".lhp", "cache", kind)
        self.used: set[str] = set()  # entry names this instance read or wrote

    @staticmethod
    def name(data: bytes) -> str:
        """The entry name of `data`'s parse: its sha256."""
        return hashlib.sha256(data).hexdigest() + ".pkl"

    def load_yaml(self, path: str, data: Optional[bytes] = None) -> Any:
        """Parsed YAML for `path` (whose bytes are `data` when the caller
        read them already), from cache when the content hash matches."""
        if data is None:
            with open(path, "rb") as f:
                data = f.read()
        return self.load_text(data)

    def load_text(self, data: bytes) -> Any:
        """Parsed YAML for `data`, from cache when its hash has an entry. A
        parse that raises stores nothing."""
        name = self.name(data)
        spec = self.get(name)
        if spec is MISSING:
            spec = yaml.safe_load(data)
            self.put(name, spec)
        return spec

    def get(self, name: str) -> Any:
        """The value stored under `name`, or `MISSING` when there is none
        or it cannot be read (torn, corrupt)."""
        self.used.add(name)
        try:
            with open(os.path.join(self.dir, name), "rb") as f:
                return pickle.load(f)
        except Exception:
            return MISSING

    def put(self, name: str, value: Any) -> None:
        """Store `value` under `name`, atomically; best-effort."""
        self.used.add(name)
        try:
            os.makedirs(self.dir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
            with os.fdopen(fd, "wb") as f:
                pickle.dump(value, f, protocol=pickle.HIGHEST_PROTOCOL)
            os.replace(tmp, os.path.join(self.dir, name))
        except OSError:
            pass  # read-only project dir etc: cache is best-effort

    def prune(self) -> int:
        """Remove the entries this instance neither read nor wrote; returns
        the number removed. An entry a concurrent discovery still wanted
        only costs that reader a re-parse."""
        return self._remove_except(self.used)

    def clear(self) -> int:
        """Remove all entries; returns the number removed."""
        return self._remove_except(set())

    def _remove_except(self, keep: set[str]) -> int:
        if not os.path.isdir(self.dir):
            return 0
        n = 0
        for name in os.listdir(self.dir):
            if name.endswith(".pkl") and name not in keep:
                try:
                    os.remove(os.path.join(self.dir, name))
                    n += 1
                except FileNotFoundError:
                    pass  # removed by a concurrent prune
        return n


def cache_for(project_root: Optional[str], kind: str = "parse") -> Optional[ParseCache]:
    """A ParseCache of `kind` for the project, or None when disabled
    (LHP_NO_PARSE_CACHE=1) or no root is known."""
    if not project_root or os.environ.get("LHP_NO_PARSE_CACHE"):
        return None
    return ParseCache(project_root, kind)
