"""Per-query CODE-CLOSURE fingerprints for the proof-freshness gate.

Two staleness incidents in a row (r14 containment pair, r15 jpeg pair)
shipped because nothing checked that a query's proof was newer than its
code.  The r15 incident is the instructive one:
the queries' physical plans were IDENTICAL before and after the change —
the churn was inside the Python decoder the mapInPandas batch calls — so
a plan fingerprint alone cannot catch that class.  This module fingerprints
the code itself: the transitive closure of package functions, classes,
modules-referenced-attributes, and module-level constants reachable from a
query's registry fn, plus its DuckDB oracle SQL.  Any edit to any source
the query can execute (or to the oracle it is compared against) flips the
fingerprint; `tests/test_proof_freshness.py` then fails until
`tools/check.py` records a green proof of the new code on both corpora.

The walk is static-ish: it scans code objects' ``co_names`` / closure
cells / defaults and resolves them against the function's globals and
against every package module the function references (so ``M.decode_jpeg``
pulls in ``operators.multimodal.decode_jpeg`` transitively).  Function-
BODY imports are resolved too: each ``IMPORT_NAME`` instruction's operand
is mapped to its package module (absolute or relative), so
``from .llm import staged_ivf_index`` inside a query function pulls the
helper into the closure even though the name never appears in the
function's module globals — the blind spot that let r17's staging-helper
refactor slip past two streaming twins' fingerprints before this fix.  It
over-approximates — a name that happens to exist on a referenced module is
included even if never called — which errs toward flagging, never toward
missing a change.  Known blind spots, documented rather than hidden:
purely dynamic dispatch (getattr with a computed string) and functions
held in dicts or tuples, which the walk does not enter.  Session-level
config (`session.py`) is reached by no query; `registry_fingerprints`
salts every fingerprint with its source (`session_salt`) instead.
"""

from __future__ import annotations

import hashlib
import inspect
import types

PKG = "spark_kafka_realm_time_data_pipeline_spark"

_LITERALS = (int, float, complex, str, bytes, bool, type(None), frozenset)


def _code_objects(code):
    yield code
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            yield from _code_objects(c)


def _resolve_import(mod_name: str, from_module: str, pkg: str):
    """Map an IMPORT_NAME operand to its (package) module: try the name
    absolutely, then package-relative at every ancestor level of the
    importing module (``llm`` inside pkg.queries.streaming resolves to
    pkg.queries.llm; ``operators`` to pkg.operators).  Prefers
    sys.modules (no side effects); falls back to an import only for
    package modules, whose init is side-effect-free."""
    import importlib
    import sys as _sys

    parts = from_module.split(".")
    cands = [mod_name] + [
        ".".join(parts[:-up] + [mod_name]) for up in range(1, len(parts) + 1)
    ]
    for c in cands:
        m = _sys.modules.get(c)
        if m is not None and (m.__name__ or "").startswith(pkg):
            return m
    for c in cands:
        if not c.startswith(pkg):
            continue
        try:
            return importlib.import_module(c)
        except ImportError:
            pass
    return None


def _as_function(v):
    """Unwrap decorated / pandas_udf-style callables to the underlying
    plain function, if there is one."""
    v = inspect.unwrap(v)
    if isinstance(v, types.FunctionType):
        return v
    func = getattr(v, "func", None)  # pandas_udf wrapper / functools.partial
    if isinstance(func, types.FunctionType):
        return inspect.unwrap(func)
    return None


def _is_literalish(v, depth: int = 0) -> bool:
    """IMMUTABLE literal values only.  Mutable containers (dict/list/set)
    are deliberately excluded: module-level dicts double as runtime memo
    caches (the staged-pair-graph path cache, decoder table caches), and
    hashing their reprs made the fingerprint depend on what happened to
    RUN earlier in the process, not on the code.  A change to a dict
    constant's CONTENT still flips the fingerprint through the source of
    the module that builds it (tuple constants + builder functions are
    hashed)."""
    if isinstance(v, _LITERALS):
        return True
    if depth > 2:
        return False
    if isinstance(v, tuple):
        return all(_is_literalish(x, depth + 1) for x in v)
    return False


def closure_fingerprint(
    fn, oracle: str | None = None, pkg: str = PKG, salt: str = ""
) -> str:
    """Hex fingerprint of everything package-side the query can execute:
    sources of every reachable package function/class, reprs of every
    reachable package module-level literal constant, and the oracle SQL.
    ``salt`` folds in context outside any query's reach — the registry
    pass salts with session.py's source, so a session-config change
    (which can re-plan every query without touching query-reachable
    code) flips every fingerprint and forces a full-registry
    tools/check.py re-proof on both corpora.
    Deterministic: all collected items are sorted before hashing."""
    import dis

    fn_sources: dict[str, str] = {}
    const_reprs: dict[str, str] = {}
    mutated: set[str] = set()  # names some package fn STORE_GLOBALs —
    # runtime state (lazy caches like _IDCT_BASIS), not code constants
    work: list[types.FunctionType] = []
    visited: set[int] = set()

    def visit_value(v, name: str, owner_mod: str, mods: list) -> None:
        f = _as_function(v)
        if f is not None:
            if (getattr(f, "__module__", "") or "").startswith(pkg):
                work.append(f)
            return
        if isinstance(v, types.ModuleType):
            if (v.__name__ or "").startswith(pkg):
                mods.append(v)
            return
        if isinstance(v, type):
            if (getattr(v, "__module__", "") or "").startswith(pkg):
                key = f"{v.__module__}.{v.__qualname__}"
                if key not in fn_sources:
                    try:
                        fn_sources[key] = inspect.getsource(v)
                    except (OSError, TypeError):
                        fn_sources[key] = repr(v)
            return
        if _is_literalish(v):
            const_reprs[f"{owner_mod}::{name}"] = repr(v)

    root = _as_function(fn)
    if root is not None:
        work.append(root)
    while work:
        f = work.pop()
        if id(f) in visited:
            continue
        visited.add(id(f))
        mod = getattr(f, "__module__", "") or ""
        if not mod.startswith(pkg):
            continue
        key = f"{mod}.{f.__qualname__}"
        if key not in fn_sources:
            try:
                fn_sources[key] = inspect.getsource(f)
            except (OSError, TypeError):
                fn_sources[key] = f.__code__.co_code.hex()
        names: set[str] = set()
        imported: set[str] = set()
        for code in _code_objects(f.__code__):
            names.update(code.co_names)
            for ins in dis.get_instructions(code):
                if ins.opname == "STORE_GLOBAL":
                    mutated.add(ins.argval)
                elif ins.opname == "IMPORT_NAME":
                    imported.add(ins.argval)
        g = f.__globals__
        mods: list = []
        for mod_name in sorted(imported):
            m = _resolve_import(mod_name, mod, pkg)
            if m is not None:
                mods.append(m)
        for name in sorted(names):
            if name in g:
                visit_value(g[name], name, mod, mods)
        # attribute access through referenced package modules: for
        # `M.decode_jpeg`, co_names holds both "M" and "decode_jpeg".
        # When the attribute is a not-yet-imported SUBMODULE of a package
        # (``from ..sources import avro_source`` in a function body),
        # getattr returns None until something imports it — which made
        # fingerprints depend on process import state (observed: running
        # the avro pytest first flipped avro_pyds_roundtrip's fp).
        # Resolve submodules explicitly so the walk is deterministic.
        import importlib

        for m in mods:
            for name in sorted(names):
                v = getattr(m, name, None)
                if v is None and hasattr(m, "__path__"):
                    try:
                        v = importlib.import_module(f"{m.__name__}.{name}")
                    except ImportError:
                        v = None
                if v is not None:
                    visit_value(v, name, m.__name__, mods)
        for cell in f.__closure__ or ():
            try:
                visit_value(cell.cell_contents, "<cell>", mod, mods)
            except ValueError:
                pass  # empty cell
        for d in f.__defaults__ or ():
            visit_value(d, "<default>", mod, mods)

    h = hashlib.sha256()
    if salt:
        h.update(salt.encode())
    for key in sorted(fn_sources):
        h.update(key.encode())
        h.update(fn_sources[key].encode())
    for key in sorted(const_reprs):
        if key.rsplit("::", 1)[-1] in mutated:
            continue  # runtime-mutated global: value is process state
        h.update(key.encode())
        h.update(const_reprs[key].encode())
    if oracle:
        h.update(oracle.encode())
    return h.hexdigest()[:16]


def session_salt() -> str:
    """Hash of session.py — the one module that shapes every query's
    plan (AQE, shuffle partitions, state-store provider, timezone)
    without appearing in any query's code closure."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, PKG, "session.py")
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def registry_fingerprints() -> dict[str, str]:
    """Closure fingerprint for every registered query (fn + oracle),
    salted with session.py's source."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spark_kafka_realm_time_data_pipeline_spark.queries import registry

    salt = session_salt()
    return {
        name: closure_fingerprint(spec.fn, spec.oracle, salt=salt)
        for name, spec in registry().items()
    }


if __name__ == "__main__":
    import json

    print(json.dumps(registry_fingerprints(), indent=1, sort_keys=True))
