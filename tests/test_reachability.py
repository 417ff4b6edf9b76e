"""Every module under ``napalm_logs_spark/`` must be reachable from the
product (``python -m napalm_logs_spark``) or the driver registry
(``__spark_entry__``).  Code that only its own tests import is either
wired in or deleted.

Every script under ``tools/`` must be imported by a test, perfbench or
the package, or be named in README.md, so one-off scripts do not pile
up.

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

# Scripts under tools/ allowed to be unreached, each with the reason.
ALLOWED_UNREACHED_TOOLS = {
    "probe_rocksdb_state": (
        "goes with the run path's state store (ROADMAP item 1)"
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


def _tools() -> set:
    return {
        f[: -len(".py")]
        for f in os.listdir(os.path.join(REPO, "tools"))
        if f.endswith(".py")
    }


def _reached_tools() -> set:
    """Tools a test, perfbench or the package imports, or README names."""
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for top in ("tests", "perfbench", PKG):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    imported = set()
    for path in paths:
        # relative imports resolve inside a package, never into tools/
        imported |= _imported_names("", path)
    with open(os.path.join(REPO, "README.md")) as fh:
        readme = fh.read()
    return {
        t for t in _tools()
        if f"tools.{t}" in imported or f"tools/{t}.py" in readme
    }


def test_every_tool_is_reached():
    reached = _reached_tools()
    unreached = sorted(
        t for t in _tools()
        if t not in reached and t not in ALLOWED_UNREACHED_TOOLS
    )
    assert not unreached, f"tools nothing imports or documents: {unreached}"


def test_allowed_tool_exceptions_are_still_needed():
    reached = _reached_tools()
    tools = _tools()
    stale = sorted(
        t for t in ALLOWED_UNREACHED_TOOLS if t in reached or t not in tools
    )
    assert not stale, stale
