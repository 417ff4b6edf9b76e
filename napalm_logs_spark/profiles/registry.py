"""Profile corpus loading.

A profile directory tree (the engine's "query language") looks like::

    <root>/
      <os_name>/
        init.yml           # prefixes: [...] — how to peel the transport envelope
        <ERROR>.yml        # messages: [...] — how to parse one message type
        <ERROR>.py         # escape hatch: emit(msg_dict) -> nested dict
        __init__.py        # escape hatch: extract(msg) -> msg_dict

(Directory-layout and merge semantics shared with the reference loader,
``base.py:273-459`` — independent implementation.)

The loaded registry is **plain picklable data** (pattern strings, group
maps, cast names, python-module file paths) holding each OS's
match-and-emit plan, compiled once at load: a YANG plan per
:class:`MessageProfile` and a dispatch index per :class:`OsProfile`.
Regexes compile lazily per executor via an ``lru_cache``; python-module
profiles are exec'd lazily per executor from their source path with the
``napalm_logs.utils`` shim installed.  On a real cluster the registry
rides to executors inside the mapInPandas closure (a broadcast-sized
object: ~110 profiles, a few hundred KB).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import lru_cache

import yaml

from ..compat import deep_merge, install_profile_shims
from .compiler import CompiledPattern, compile_line

OS_INIT_BASENAMES = ("__init__", "init", "index")
NO_MODEL = "NO_MODEL"

#: default profile corpus: the vendored snapshot of the reference's
#: Apache-2.0 profile *data* (96 YAML profiles + 2 python profiles
#: shipped as ``.pyprofile`` data files, exec'd by the loader exactly
#: like the reference loads its own python profiles) — the engine runs
#: fully standalone.  Override with NLS_PROFILE_DIR to point at any
#: user profile tree.
VENDORED_PROFILE_DIR = os.path.join(os.path.dirname(__file__), "vendored")
DEFAULT_PROFILE_DIR = VENDORED_PROFILE_DIR


def _materialize_pkg_dir(pkg_path: str) -> str | None:
    """Resolve an in-package data directory to a real filesystem dir.

    Under ``spark-submit --py-files pkg.zip`` the package lives inside a
    zip, so ``os.listdir`` can't walk it — extract the subtree once per
    (zip, mtime) into a cached temp dir.  On a plain checkout this is a
    no-op.  Note for real clusters: only ``.pyprofile`` escape-hatch
    modules are re-read per executor (YAML profiles ride as compiled
    data in the broadcast registry); the same extraction runs lazily on
    each executor that needs them.
    """
    if os.path.isdir(pkg_path):
        return pkg_path
    probe = pkg_path
    while probe and not os.path.isfile(probe):
        parent = os.path.dirname(probe)
        if parent == probe:
            return None
        probe = parent
    import hashlib
    import tempfile
    import zipfile

    if not zipfile.is_zipfile(probe):
        return None
    rel = os.path.relpath(pkg_path, probe).replace(os.sep, "/")
    # stable cache name: hashlib, NOT builtin hash() (PYTHONHASHSEED-
    # randomized — a random name would re-extract every process and
    # leak orphan trees in /tmp)
    key = hashlib.md5(
        f"{probe}:{os.path.getmtime(probe)}".encode()
    ).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), f"nls_profiles_{key}")
    marker = os.path.join(cache, ".complete")
    target = os.path.join(cache, rel)
    if not os.path.isfile(marker):
        # private staging dir per extractor: a shared ".tmp" would let
        # the rename winner yank the directory out from under a
        # concurrent extractall
        tmp = tempfile.mkdtemp(prefix=f"nls_profiles_{key}_stage_")
        with zipfile.ZipFile(probe) as zf:
            members = [m for m in zf.namelist() if m.startswith(rel + "/")]
            zf.extractall(tmp, members)
        open(os.path.join(tmp, ".complete"), "w").close()
        try:
            os.rename(tmp, cache)
        except OSError:  # concurrent extractor won the race — use theirs
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return target if os.path.isdir(target) else None


@dataclass(frozen=True)
class PrefixProfile:
    pattern: CompiledPattern | None   # None for python-module prefixes
    time_format: str | None = None
    python_path: str | None = None    # path of module defining extract()


@dataclass(frozen=True)
class MessageProfile:
    error: str
    tag: str
    match_on: str
    model: str
    pattern: CompiledPattern | None   # None for python-module messages
    #: (variables, static): one (segments, dynamic segment indexes,
    #: capture name or literal) per mapping path
    yang_plan: tuple | None = ((), ())
    state: int | None = None
    state_tag: str | None = None      # None unless ``state`` is set
    python_path: str | None = None    # path of module defining emit()


@dataclass(frozen=True)
class OsProfile:
    prefixes: tuple
    dispatch: dict           # match_on -> gate value -> profiles, in load order


@dataclass(frozen=True)
class ProfileRegistry:
    oses: dict  # os_name -> OsProfile


# ---------------------------------------------------------------------------
# python-module escape hatch: lazy per-executor exec of profile modules


@lru_cache(maxsize=256)
def _load_profile_module(path: str) -> dict:
    install_profile_shims()
    namespace: dict = {"__file__": path, "__name__": f"_nls_profile_{abs(hash(path))}"}
    with open(path, "r") as fh:
        source = fh.read()
    exec(compile(source, path, "exec"), namespace)
    return namespace


def python_extract(path: str, msg: str):
    """Run a python prefix profile's ``extract(msg)``."""
    fn = _load_profile_module(path).get("extract")
    if fn is None:
        return None
    try:
        return fn(msg)
    except Exception:
        return None


def python_emit(path: str, msg_dict: dict):
    """Run a python message profile's ``emit(msg_dict)``."""
    fn = _load_profile_module(path).get("emit")
    if fn is None:
        return None
    try:
        return fn(dict(msg_dict))
    except Exception:
        return None


def _python_module_meta(path: str) -> dict:
    ns = _load_profile_module(path)
    stem = os.path.splitext(os.path.basename(path))[0]
    return {
        "tag": ns.get("__tag__", stem),
        "error": ns.get("__error__", stem),
        "match_on": ns.get("__match_on__", "tag"),
        "model": ns.get("__yang_model__", NO_MODEL),
        "has_emit": callable(ns.get("emit")),
        "has_extract": callable(ns.get("extract")),
    }


# ---------------------------------------------------------------------------
# loading


def _load_os_dir(os_dir: str) -> dict:
    """Merge every yml/py file in an OS directory into one raw config."""
    raw: dict = {}
    for fname in sorted(os.listdir(os_dir)):
        stem, ext = os.path.splitext(fname)
        ext = ext.lstrip(".")
        path = os.path.join(os_dir, fname)
        if ext in ("yml", "yaml"):
            with open(path, "r") as fh:
                cfg = yaml.safe_load(fh)
            if cfg:
                deep_merge(raw, cfg)
        elif ext in ("py", "pyprofile"):
            meta = _python_module_meta(path)
            if stem in OS_INIT_BASENAMES:
                if meta["has_extract"]:
                    raw.setdefault("prefixes", []).append(
                        {"__python_path__": path}
                    )
            elif meta["has_emit"]:
                raw.setdefault("messages", []).append(
                    {
                        "__python_path__": path,
                        "error": meta["error"],
                        "tag": meta["tag"],
                        "match_on": meta["match_on"],
                        "model": meta["model"],
                    }
                )
    return raw


def _yang_plan(mapping) -> tuple | None:
    """Split each ``//`` path template once and mark the segments that
    interpolate captures (per-row splitting was ~20% of normalize).  A
    malformed mapping has no plan: its matches publish nothing."""

    def compile_paths(d):
        out = []
        for path_tpl, payload in d.items():
            segs = tuple(path_tpl.split("//"))
            dyn = tuple(i for i, seg in enumerate(segs) if "{" in seg)
            out.append((segs, dyn, payload))
        return tuple(out)

    try:
        return (
            compile_paths(mapping.get("variables", {})),
            compile_paths(mapping.get("static", {})),
        )
    except AttributeError:
        return None


def _build_os_profile(raw: dict) -> OsProfile:
    prefixes = []
    for p in raw.get("prefixes", []):
        if "__python_path__" in p:
            prefixes.append(PrefixProfile(pattern=None, python_path=p["__python_path__"]))
            continue
        prefixes.append(
            PrefixProfile(
                pattern=compile_line(p.get("line", ""), p.get("values", {}), wrap_prefix=True),
                time_format=p.get("time_format"),
            )
        )
    messages = []
    for m in raw.get("messages", []):
        if "__python_path__" in m:
            messages.append(
                MessageProfile(
                    error=m["error"], tag=m["tag"], match_on=m.get("match_on", "tag"),
                    model=m.get("model", NO_MODEL), pattern=None,
                    python_path=m["__python_path__"],
                )
            )
            continue
        messages.append(
            MessageProfile(
                error=m["error"],
                tag=m["tag"],
                match_on=m.get("match_on", "tag"),
                model=m.get("model", NO_MODEL),
                pattern=compile_line(m.get("line", ""), m.get("values", {})),
                yang_plan=_yang_plan(m.get("mapping", {})),
                state=m.get("state"),
                state_tag=m.get("state_tag") if m.get("state") is not None else None,
            )
        )
    dispatch: dict = {}
    for mp in messages:
        dispatch.setdefault(mp.match_on, {}).setdefault(mp.tag, []).append(mp)
    dispatch = {
        match_on: {tag: tuple(mps) for tag, mps in index.items()}
        for match_on, index in dispatch.items()
    }
    return OsProfile(prefixes=tuple(prefixes), dispatch=dispatch)


def load_registry(path: str | None = None) -> ProfileRegistry:
    """Load a profile directory tree into a :class:`ProfileRegistry`.

    Driver-side only; the result is broadcast to executors via closure
    capture.
    """
    if path is None:
        path = os.environ.get("NLS_PROFILE_DIR")
    if path is None:
        path = _materialize_pkg_dir(DEFAULT_PROFILE_DIR) or DEFAULT_PROFILE_DIR
    if not os.path.isdir(path):
        raise IOError(f"profile directory does not exist: {path}")
    oses = {}
    for entry in sorted(os.listdir(path)):
        os_dir = os.path.join(path, entry)
        if not os.path.isdir(os_dir) or entry.startswith("__"):
            continue
        raw = _load_os_dir(os_dir)
        if raw:
            oses[entry] = _build_os_profile(raw)
    if not oses:
        raise IOError(f"no OS profiles found under {path}")
    return ProfileRegistry(oses=oses)
