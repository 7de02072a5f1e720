"""Per-query source fingerprints — invalidate stale driver green rows.

Round-5 ADVICE: the driver rotation counted a query as "already
checked" based on a green correctness row from a round that graded
OLDER code — a query whose Spark path or oracle changed since kept its
green row and the ~50-query budget deprioritized re-verifying it.

The fix: fingerprint what each registry query actually executes —

- the query function's own source (inspect.getsource),
- its oracle SQL string,
- the full text of every package module the function's code references
  by leaf name (co_names ∩ module names — e.g. ``sorts``, ``text``,
  ``linkage``; a dotted import such as ``from ..streaming.phash_index
  import stream_phash`` puts ``streaming.phash_index`` in co_names and
  counts by its last component; ambiguous leaf names like ``windows``,
  which exists in both operators/ and streaming/, hash BOTH files:
  over-invalidation just re-verifies, under-invalidation hides a
  change),
- the full text of every package module those modules reach through
  relative imports (``from .x import y``, ``from ..sources import
  silver``), transitively: a change to ``streaming/index_gate.py``
  moves every query that names ``dedup_index``, ``ann_index`` or
  ``phash_index``.

``tools/query_hashes.json`` stores the fingerprint recorded at the
last LOCAL VERIFICATION (tools/parity_check.py updates it only for
queries that PASS). The rotation in __spark_entry__ treats a green
driver row whose stored fingerprint no longer matches the current one
as UNCHECKED, so changed implementations are fronted for the driver's
next correctness budget.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import inspect
import json
import os

_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HASH_FILE = os.path.join(os.path.dirname(_PKG), "tools", "query_hashes.json")

_SUBPACKAGES = ("operators", "sources", "streaming", "functions", "plans")


def _module_files() -> dict[str, list[str]]:
    """Leaf module name → all matching package files (a leaf name can
    exist in several subpackages; include every match)."""
    out: dict[str, list[str]] = {}
    for d in [os.path.join(_PKG, sub) for sub in _SUBPACKAGES] + [_PKG]:
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".py") and fn != "__init__.py":
                out.setdefault(fn[:-3], []).append(os.path.join(d, fn))
    return out


def _relative_imports(path: str) -> list[str]:
    """Package files ``path`` imports with ``from .``/``from ..``: the
    named module, or each imported name that is a module."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level:
            base = path
            for _ in range(node.level):
                base = os.path.dirname(base)
            target = os.path.join(base, *(node.module or "").split("."))
            for mod in [target] + [os.path.join(target, a.name) for a in node.names]:
                if os.path.isfile(mod + ".py"):
                    out.append(mod + ".py")
    return out


@functools.cache
def _closure(path: str) -> frozenset[str]:
    """``path`` and every package file it reaches through relative
    imports, transitively."""
    seen, todo = {path}, [path]
    while todo:
        new = set(_relative_imports(todo.pop())) - seen
        seen |= new
        todo += new
    return frozenset(seen)


_FILE_HASHES: dict[str, str] = {}


def _file_hash(path: str) -> str:
    h = _FILE_HASHES.get(path)
    if h is None:
        with open(path, "rb") as f:
            h = hashlib.sha256(f.read()).hexdigest()
        _FILE_HASHES[path] = h
    return h


def query_fingerprint(fn, oracle: str | None) -> str:
    """Fingerprint of one registry query's executable surface."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = getattr(fn, "__name__", repr(fn))
    parts = [src, oracle or ""]
    mods = _module_files()
    leaves = {name.rsplit(".", 1)[-1] for name in fn.__code__.co_names}
    named = [path for ref in sorted(leaves & set(mods)) for path in mods[ref]]
    reached = set().union(*map(_closure, named))
    for path in named + sorted(reached - set(named)):
        parts.append(_file_hash(path))
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()


def current_fingerprints() -> dict[str, str]:
    """Fingerprints for every registry query at the current source tree."""
    from .fixture_queries import QUERIES
    from .oracles import ORACLES

    return {
        name: query_fingerprint(fn, ORACLES.get(name))
        for name, fn in QUERIES.items()
    }


def load_recorded() -> dict[str, str]:
    """Fingerprints recorded at last local verification (empty if the
    file is missing/unreadable — everything then counts as unchanged,
    the pre-round-6 behavior)."""
    try:
        with open(HASH_FILE) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def record(names: list[str] | None = None) -> dict[str, str]:
    """Refresh stored fingerprints for ``names`` (all queries if None).
    Called by tools/parity_check.py for queries that PASS."""
    stored = load_recorded()
    current = current_fingerprints()
    for n in current if names is None else names:
        if n in current:
            stored[n] = current[n]
    stored = {k: stored[k] for k in sorted(stored)}
    with open(HASH_FILE, "w") as f:
        json.dump(stored, f, indent=1)
        f.write("\n")
    return stored
