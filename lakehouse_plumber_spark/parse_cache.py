"""Content-hash-keyed YAML parse cache under ``.lhp/cache/parse``.

Reference parity: persistent on-disk parse cache
(src/lhp/parsers/parse_cache.py, wired at orchestrator.py:152-158). YAML
parsing is the dominant compile-side cost for 100-pipeline projects; keying
by the sha256 of the file BYTES makes staleness impossible by construction —
an edited file simply misses and re-parses, and the old entry becomes
garbage. A discovery that scanned the whole project calls `prune()`, which
removes every entry that discovery neither read nor wrote, so the cache
holds one entry per live input; `clear()` removes them all.

Two kinds of text share the cache: flowgroup and blueprint files
(`load_yaml(path)`, which reads the bytes and calls `load_text`) and the
rendered text of a `use_template` flowgroup (`load_text(data)`, called by
`parsers._expand_template`). A rendered template is keyed by the hash of
its text, so it re-parses only after an edit to the template or to the
flowgroup's `template_parameters`.

Entries are pickled parsed dicts written atomically (tmp + rename) so
concurrent discoveries never observe torn files. Any read failure falls back
to a real parse — the cache can only ever be a speedup, never a correctness
input.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import tempfile
from typing import Any, Optional

import yaml


class ParseCache:
    def __init__(self, project_root: str) -> None:
        self.dir = os.path.join(project_root, ".lhp", "cache", "parse")
        self.used: set[str] = set()  # entry names this instance read or wrote

    def load_yaml(self, path: str) -> Any:
        """Parsed YAML for `path`, from cache when the content hash matches."""
        with open(path, "rb") as f:
            return self.load_text(f.read())

    def load_text(self, data: bytes) -> Any:
        """Parsed YAML for `data`, from cache when its hash has an entry."""
        name = hashlib.sha256(data).hexdigest() + ".pkl"
        self.used.add(name)
        entry = os.path.join(self.dir, name)
        if os.path.exists(entry):
            try:
                with open(entry, "rb") as f:
                    return pickle.load(f)
            except Exception:
                pass  # torn/corrupt entry: fall through to a real parse
        spec = yaml.safe_load(data)
        try:
            os.makedirs(self.dir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
            with os.fdopen(fd, "wb") as f:
                pickle.dump(spec, f)
            os.replace(tmp, entry)
        except OSError:
            pass  # read-only project dir etc: cache is best-effort
        return spec

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


def cache_for(project_root: Optional[str]) -> Optional[ParseCache]:
    """A ParseCache for the project, or None when disabled
    (LHP_NO_PARSE_CACHE=1) or no root is known."""
    if not project_root or os.environ.get("LHP_NO_PARSE_CACHE"):
        return None
    return ParseCache(project_root)
