"""YAML config-file support for the CLI — the reference's config merge
re-expressed (`/root/reference/napalm_logs/scripts/cli.py:272-282`:
explicit CLI flags win, then the config file, then built-in defaults;
``${ENV_VAR}`` values are interpolated from the environment first,
reference ``convert_env_dict``, cli.py:245-263).

A napalm-logs deployment config names its transports/publishers as
structured YAML the flags cannot express (per-sink whitelists, raw/
unknown routing, serializer choice).  The analog here is the ``sinks:``
list — each entry builds one :class:`..streaming.sink.SinkSpec` for the
``run`` fan-out:

.. code-block:: yaml

    source: /data/transcripts
    checkpoint: /ckpt/run1
    watermark: 60 seconds
    sinks:
      - path: /sinks/errors_only
        whitelist: [INTERFACE_DOWN, BGP_NEIGHBOR_STATE_CHANGED]
      - path: /sinks/everything
        send_raw: true
        send_unknown: true
      - console: true
      - kafka_bootstrap: broker:9092
        kafka_topic: nlogs
        serializer: msgpack
"""

from __future__ import annotations

import argparse
import os
import re

_ENV_RE = re.compile(r"^\$\{(\w+)\}$")


def _interp_env(node):
    """Replace ``${VAR}`` string values with the environment value —
    the reference's convert_env_dict/convert_env_list, but total: an
    unset variable is an error, not a sys.exit."""
    if isinstance(node, dict):
        return {k: _interp_env(v) for k, v in node.items()}
    if isinstance(node, list):
        return [_interp_env(v) for v in node]
    if isinstance(node, str):
        m = _ENV_RE.match(node)
        if m:
            if m.group(1) not in os.environ:
                raise KeyError(
                    f"config references ${{{m.group(1)}}} but it is not "
                    "set in the environment"
                )
            return os.environ[m.group(1)]
    return node


def load_config(path: str) -> dict:
    """Read and env-interpolate a YAML config file.  Unlike the
    reference (which logs and continues on a missing file), a config
    the user explicitly pointed at must load or fail loudly."""
    import yaml

    with open(path) as fh:
        cfg = yaml.safe_load(fh) or {}
    if not isinstance(cfg, dict):
        raise ValueError(f"config file {path} must be a YAML mapping")
    return _interp_env(cfg)


#: ``SinkSpec`` field type -> (accepts a config value, what it expects)
_SINK_VALUES = {
    "bool": (lambda v: isinstance(v, bool), "true or false"),
    "int": (
        lambda v: isinstance(v, int) and not isinstance(v, bool) and v > 0,
        "a positive integer",
    ),
    "str": (lambda v: isinstance(v, str), "a string"),
}


def build_sinks(entries: list):
    """``sinks:`` config entries → SinkSpec list (fail fast on unknown
    keys so a typo'd filter never silently widens a sink, and on a value
    of the wrong type: the string ``"false"`` is truthy)."""
    from dataclasses import fields

    from .streaming.sink import SinkSpec

    types = {f.name: f.type for f in fields(SinkSpec)}
    specs = []
    for ent in entries:
        if not isinstance(ent, dict):
            raise ValueError(f"sink entry must be a mapping, got {ent!r}")
        ent = dict(ent)
        for key, v in ent.items():
            if key in ("whitelist", "blacklist"):
                # a natural single-value YAML scalar must become a
                # one-element tuple, not be iterated char-by-char into
                # a filter that can never match
                if isinstance(v, str):
                    v = (v,)
                if v is None or not all(isinstance(x, str) for x in v):
                    raise ValueError(
                        f"bad sink entry: {key} must be a string or a "
                        f"list of strings, got {v!r}"
                    )
                ent[key] = tuple(v)
            elif types.get(key) in _SINK_VALUES:
                accepts, want = _SINK_VALUES[types[key]]
                if not accepts(v):
                    raise ValueError(
                        f"bad sink entry: {key} must be {want}, got {v!r}"
                    )
        try:
            specs.append(SinkSpec(**ent))
        except TypeError as e:
            raise ValueError(f"bad sink entry {sorted(ent)}: {e}") from None
    return specs


def _flag_given(argv: list, dest: str, dests) -> bool:
    """True when the user passed a flag for ``dest`` — including
    argparse's prefix abbreviations (``--check`` for ``--checkpoint``),
    which must count as explicit or the config file would silently
    override a flag the user typed (inverting flag > file).

    A typed name counts for ``dest`` when it equals ``dest``, or when
    ``dest`` is the only one of the parsed ``dests`` it is a prefix of
    (argparse's abbreviation rule): ``--source`` is not
    ``--source-format``."""
    for a in argv:
        if not a.startswith("--") or len(a) <= 2:
            continue
        name = a[2:].split("=", 1)[0].replace("-", "_")
        if name == dest or (
            name and [d for d in dests if d.startswith(name)] == [dest]
        ):
            return True
    return False


def _parse_value(parser, key: str, action, value):
    """A config value as its flag parses it from the command line:
    through the flag's ``type`` and ``choices``, a ``store_true`` flag
    from a YAML bool only; anything else is a ``parser.error``."""
    if action.nargs == 0:  # store_true takes no value on the command line
        if isinstance(value, bool):
            return value
        parser.error(f"config file: {key}: expected true or false, got {value!r}")
    many = isinstance(action, argparse._AppendAction)
    out = []
    for v in value if many and isinstance(value, list) else [value]:
        if isinstance(v, bool) or not isinstance(v, (str, int, float)):
            parser.error(f"config file: {key}: invalid value {v!r}")
        try:
            v = action.type(str(v)) if action.type else str(v)
        except ValueError:
            parser.error(f"config file: {key}: invalid value {v!r}")
        if action.choices is not None and v not in action.choices:
            parser.error(
                f"config file: {key}: invalid choice {v!r} (choose from "
                f"{', '.join(map(repr, action.choices))})"
            )
        out.append(v)
    return out if many else out[0]


def merge_config(args, cfg: dict, argv: list, parsers) -> None:
    """Fill parsed-args attributes from the config for every key the
    user did NOT pass explicitly (reference precedence: CLI flag >
    config file > default).  ``parsers`` are the top-level parser and
    the active subcommand's; each value is parsed as its flag would
    parse it.  Keys that don't correspond to a flag of the active
    subcommand are ignored, among them the structured ``sinks:`` list,
    which the caller consumes separately."""
    flags = {a.dest: a for p in parsers for a in p._actions if a.option_strings}
    for key, value in cfg.items():
        dest = key.replace("-", "_")
        action = flags.get(dest)
        if (
            action is not None and hasattr(args, dest)
            and not _flag_given(argv, dest, vars(args))
        ):
            setattr(args, dest, _parse_value(parsers[-1], key, action, value))
