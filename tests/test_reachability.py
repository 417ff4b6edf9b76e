"""Every module under ``napalm_logs_spark/`` must be reachable from the
product (``python -m napalm_logs_spark``) or the driver registry
(``__spark_entry__``).  Code that only its own tests import is either
wired in or deleted.

The import graph is read statically with ``ast``: every ``import`` and
``from ... import`` statement counts, including the ones inside
function bodies (the registry imports its operators lazily).
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "napalm_logs_spark"
ROOTS = (f"{PKG}.__main__", "__spark_entry__")

# Modules allowed to be unreached, each with the reason it stays.
ALLOWED_UNREACHED = {
    f"{PKG}.streaming.stateful": (
        "entity_state_stream is the streaming up/down correlation; it "
        "waits to be wired into the run path"
    ),
}


def _package_modules() -> dict:
    """Dotted module name -> file path for every module in the package."""
    mods = {}
    for dirpath, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), REPO)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(dirpath, f)
    return mods


def _imported_names(mod: str, path: str) -> set:
    """Dotted names a module's import statements can load, absolute."""
    is_pkg = os.path.basename(path) == "__init__.py"
    package = mod if is_pkg else mod.rpartition(".")[0]
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                if node.module:
                    base.append(node.module)
                target = ".".join(base)
            else:
                target = node.module
            out.add(target)
            # `from pkg import sub` may name a submodule
            out.update(f"{target}.{a.name}" for a in node.names)
    return out


def _reached() -> set:
    mods = _package_modules()
    mods["__spark_entry__"] = os.path.join(REPO, "__spark_entry__.py")
    seen, todo = set(), list(ROOTS)
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in mods:
            continue
        seen.add(mod)
        for name in _imported_names(mod, mods[mod]):
            # importing a.b.c also runs a and a.b
            parts = name.split(".")
            todo.extend(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return seen


def test_every_package_module_is_reached():
    reached = _reached()
    unreached = sorted(
        m for m in _package_modules()
        if m not in reached and m not in ALLOWED_UNREACHED
    )
    assert not unreached, f"modules only tests reach: {unreached}"


def test_allowed_exceptions_are_still_needed():
    """An exception that is reached now (or whose module is gone) is
    stale and must be dropped from the list."""
    reached = _reached()
    mods = _package_modules()
    stale = sorted(
        m for m in ALLOWED_UNREACHED if m in reached or m not in mods
    )
    assert not stale, stale
