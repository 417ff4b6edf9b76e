"""Profile template → regex compilation.

The profile language describes a log line as a template with named
holes plus a regex per hole::

    line:   '{date} {time} {host} {tag}: '
    values: {date: '(\\w+ +\\d+)', time: '(\\d\\d:\\d\\d:\\d\\d)', ...}

Compilation semantics (behavioral parity with reference
``server.py:88-134`` for prefixes and ``device.py:72-130`` for message
bodies — independent implementation):

* every literal character of the template is regex-escaped, *except*
  the ``{hole}`` markers;
* a single literal whitespace matches any run of whitespace (``\\s+``);
* each hole is substituted with its value regex, and the capture-group
  index of each hole is derived from the hole's position in the
  template (holes sorted by first occurrence; a hole absent from the
  template sorts first — kept for parity);
* message templates allow a cast suffix in the value key
  (``adminStatusString|upper``) collected into a ``casts`` map;
* prefix templates are wrapped as ``{pri}<line>{message}`` with
  ``pri = '\\<(\\d+)\\>'`` and ``message = '(.*)'`` auto-appended.

The compiled artifact is a plain, picklable dataclass holding the
*pattern string* — executors compile it lazily (and cache) so the
registry broadcasts cheaply.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache


@dataclass(frozen=True)
class CompiledPattern:
    """A compiled profile template: pattern string + group layout.

    ``required_literal`` is the longest whitespace-free literal fragment
    of the template outside any hole — a *necessary* substring of every
    match (literal chars pass re.escape verbatim), used as an O(1)
    prefilter before the regex engine runs.
    """

    pattern: str
    group_index: dict  # hole name -> regex group number (1-based)
    casts: dict        # hole name -> cast function name
    required_literal: str | None = None

    def regex(self):
        return _compile_cached(self.pattern)


@lru_cache(maxsize=4096)
def _compile_cached(pattern: str):
    return re.compile(pattern)


_CAST_SEP = "|"


def compile_line(line: str, values: dict, *, wrap_prefix: bool = False) -> CompiledPattern:
    """Compile a profile template into a :class:`CompiledPattern`.

    ``values`` maps hole names (optionally ``name|cast``) to regexes.
    ``wrap_prefix=True`` applies the syslog-prefix wrapping (auto ``pri``
    and trailing ``message`` holes).
    """
    values = dict(values)
    casts: dict = {}
    for raw_key in list(values.keys()):
        if _CAST_SEP in raw_key:
            clean = raw_key.replace(" ", "")
            name, cast_name = clean.split(_CAST_SEP, 1)
            casts[name] = cast_name
            values[name] = values.pop(raw_key)

    # necessary literal: longest whitespace-free fragment between holes
    # (computed before wrapping; whitespace is excluded because a single
    # template space matches any whitespace run)
    fragments = [
        piece
        for chunk in re.split(r"\{\w+\}", line)
        for piece in chunk.split()
    ]
    fragments = [f for f in fragments if len(f) >= 2]
    required_literal = max(fragments, key=len) if fragments else None

    if wrap_prefix:
        line = "{pri}" + line + "{message}"
        values["pri"] = r"\<(\d+)\>"
        values["message"] = "(.*)"

    # group numbering: holes ordered by first position in the template
    first_pos = {}
    for name in values:
        first_pos[line.find("{" + name + "}")] = name
    group_index = {
        name: rank + 1
        for rank, (_, name) in enumerate(sorted(first_pos.items()))
    }

    escaped = re.escape(line).replace(r"\{", "{").replace(r"\}", "}")
    escaped = escaped.replace(r"\ ", r"\s+")
    pattern = escaped.format(**values)
    return CompiledPattern(
        pattern=pattern,
        group_index=group_index,
        casts=casts,
        required_literal=required_literal,
    )
