"""Every module under ``napalm_logs_spark/`` must be reachable from the
product (``python -m napalm_logs_spark``) or the driver registry
(``__spark_entry__``).  Code that only its own tests import is either
wired in or deleted.

Every public top-level function or class in the package, and every
module-level constant (public or private; dunder names aside), must
also be referenced, outside its own body, by a file that is not a
test: the package, ``__spark_entry__.py``, ``bench.py``, ``tools/`` or
``perfbench/``.  A reference is a name read, an attribute, an import
alias, or a string constant equal to the name (the registry and the
compat shims look names up by string); binding a name is not a
reference.  A package ``__init__.py`` re-export (its imports and
``__all__``) is not a reference.  The check matches by name only, so a
function that shares its name with a reached one passes unseen.

Every optional parameter of a top-level package function, public or
private, must be passed at some call site in those files (or in the
vendored ``*.pyprofile`` modules): by keyword, by position, or through
``*args``/``**kwargs``.  An option no product caller sets is a
constant, and the code only its other values reach is dead.

Every field of a package ``@dataclass`` must be read in one of those
files: an attribute load of its name, or ``getattr(..., "<name>")``.
A field nothing reads is data the program builds and never uses.

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
ALLOWED_UNREACHED = {}

# Public package functions and classes, and module-level constants,
# allowed to be unreached, "module:name" -> the reason each stays.
ALLOWED_UNREACHED_FUNCTIONS = {
    f"{PKG}.operators.cep:transitions": (
        "the batch up/down transitions that streaming correlation on the "
        "run path builds on (ROADMAP item 2)"
    ),
    f"{PKG}.streaming.prometheus:write_textfile": (
        "the Prometheus textfile the run path is to write (ROADMAP item 4)"
    ),
}

# Optional parameters no product call site sets, "module:function(param)"
# -> the reason each stays.
ALLOWED_UNSET_PARAMETERS = {
    f"{PKG}.compat:setval(delim)": (
        "the reference's napalm_logs.utils API, which user profile trees "
        "under NLS_PROFILE_DIR call"
    ),
    f"{PKG}.compat:traverse(delim)": (
        "the reference's napalm_logs.utils API, which user profile trees "
        "under NLS_PROFILE_DIR call"
    ),
    f"{PKG}.operators.sft:sft_render(max_turns)": (
        "size bound a unit test cannot reach cheaply; "
        "test_sft::test_render_max_turns_truncation sets it"
    ),
    f"{PKG}.operators.text:length_bucket_plan(max_cap)": (
        "size bound a unit test cannot reach cheaply; "
        "test_text_ops::test_length_bucket_plan_overflow_floors_waste sets it"
    ),
    f"{PKG}.operators.convstats:conversation_fingerprints(max_turns)": (
        "size bound a unit test cannot reach cheaply; "
        "test_convstats::test_fingerprint_max_turns_truncation sets it"
    ),
    f"{PKG}.operators.docdedup:_jaccard_capped(freq_cap)": (
        "stop-shingle cap a unit test cannot reach cheaply; "
        "test_docdedup::test_capped_jaccard_exact_with_engaged_cap sets it "
        "to 3 to reach the heavy-shingle path"
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


def _product_files() -> list:
    """Every non-test source file that can reach package code."""
    paths = [os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")]
    for top in (PKG, "tools", "perfbench"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            paths += [
                os.path.join(dirpath, f) for f in files
                if f.endswith(".py")
                and not (top == "perfbench" and f.startswith("test_"))
            ]
    return paths


def _is_reexport(top) -> bool:
    """An import or the ``__all__`` list of a package ``__init__.py``."""
    if isinstance(top, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(top, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in top.targets
    )


def _referenced(node) -> set:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if isinstance(n.ctx, ast.Load):  # binding a name is no use of it
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _constants(top) -> list:
    """Names a top-level assignment binds, dunder names aside."""
    if isinstance(top, ast.Assign):
        targets = top.targets
    elif isinstance(top, ast.AnnAssign) and top.value is not None:
        targets = [top.target]
    else:
        return []
    return [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def _unreached_functions() -> set:
    """``module:name`` of every public top-level function or class, and
    of every module-level constant (public or private, dunders aside),
    in the package that no non-test file references outside its own
    body."""
    mod_of = {path: mod for mod, path in _package_modules().items()}
    defined, refs = set(), {}
    for path in _product_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for top in tree.body:
            own = None
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = top.name
                if path in mod_of and not own.startswith("_"):
                    defined.add((path, own))
            elif path in mod_of:
                defined.update((path, name) for name in _constants(top))
            if os.path.basename(path) == "__init__.py" and _is_reexport(top):
                continue
            for name in _referenced(top):
                refs.setdefault(name, set()).add((path, own))
    return {
        f"{mod_of[path]}:{name}"
        for path, name in defined
        if refs.get(name, set()) <= {(path, name)}
    }


def test_every_package_function_is_reached():
    unreached = sorted(_unreached_functions() - set(ALLOWED_UNREACHED_FUNCTIONS))
    assert not unreached, f"functions only tests reach: {unreached}"


def test_allowed_function_exceptions_are_still_needed():
    stale = sorted(set(ALLOWED_UNREACHED_FUNCTIONS) - _unreached_functions())
    assert not stale, stale


def _vendored_profiles() -> list:
    root = os.path.join(REPO, PKG, "profiles", "vendored")
    return [
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(root)
        for f in files if f.endswith(".pyprofile")
    ]


def _optional_params(fn) -> list:
    """``(name, position)`` of every parameter with a default; the
    position is None for keyword-only ones."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _call_name(call, aliases: dict):
    f = call.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return aliases.get(name, name)


def _unset_parameters() -> set:
    """``module:function(param)`` of every optional parameter of a
    top-level package function that no product call sets."""
    defs = {}
    for mod, path in _package_modules().items():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for top in tree.body:
            if isinstance(top, ast.FunctionDef):
                defs[top.name] = (mod, path, _optional_params(top))
    passed = {}  # function name -> keywords, positions, "*" / "**"
    for path in _product_files() + _vendored_profiles():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        # `from m import f as g`: a call of g is a call of f
        aliases = {
            a.asname: a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        for top in tree.body:
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                name = _call_name(call, aliases)
                if name not in defs or (
                    path == defs[name][1] and getattr(top, "name", None) == name
                ):
                    continue  # recursion does not set an option
                got = passed.setdefault(name, set())
                for i, arg in enumerate(call.args):
                    got.add("*" if isinstance(arg, ast.Starred) else i)
                got.update(k.arg or "**" for k in call.keywords)
    unset = set()
    for name, (mod, _path, params) in defs.items():
        got = passed.get(name, set())
        for param, pos in params:
            if "**" in got or param in got:
                continue
            if pos is not None and ("*" in got or pos in got):
                continue
            unset.add(f"{mod}:{name}({param})")
    return unset


def test_every_optional_parameter_is_set():
    unset = sorted(_unset_parameters() - set(ALLOWED_UNSET_PARAMETERS))
    assert not unset, f"options no product caller sets: {unset}"


def test_allowed_parameter_exceptions_are_still_needed():
    stale = sorted(set(ALLOWED_UNSET_PARAMETERS) - _unset_parameters())
    assert not stale, stale


def _is_dataclass(cls) -> bool:
    for d in cls.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "dataclass":
            return True
    return False


def _unread_fields() -> set:
    """``module:Class.field`` of every package dataclass field that no
    product file reads."""
    fields = set()
    for mod, path in _package_modules().items():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef) and _is_dataclass(cls):
                fields.update(
                    (mod, cls.name, st.target.id) for st in cls.body
                    if isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name)
                )
    read = set()
    for path in _product_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                read.add(n.attr)
            elif (
                isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                and n.func.id == "getattr" and len(n.args) >= 2
                and isinstance(n.args[1], ast.Constant)
            ):
                read.add(n.args[1].value)
    return {f"{mod}:{cls}.{name}" for mod, cls, name in fields if name not in read}


def test_every_dataclass_field_is_read():
    unread = sorted(_unread_fields())
    assert not unread, f"dataclass fields nothing reads: {unread}"
