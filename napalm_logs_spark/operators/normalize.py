"""The vectorized normalize stage — the engine's hot path.

One Arrow-batched ``mapInPandas`` stage implements the whole per-message
pipeline of the reference (which spreads it over three OS processes):

  OS/prefix identification  (reference server.py:194-216  — P2)
  facility/severity math    (server.py:187-191            — P4)
  tag-gated message match   (device.py:132-190            — M2)
  value casts               (device.py:169-177            — M3)
  timestamp resolution      (device.py:217-224,283-291    — M4)
  YANG-path emit            (device.py:192-208            — M5)
  python-profile escape     (base.py:349-446              — M6)
  RAW / UNKNOWN fallbacks   (device.py:296-317, server.py:347-363 — M7/M8)
  state flag attach         (device.py:348-351            — M9)

Scale design: the profile registry is closure-captured (broadcast-sized,
a few hundred KB) with each OS's dispatch index and YANG plans compiled
at load; the only per-executor caches are regex compiles and
python-profile modules.  Matching runs per (os, prefix) over the
not-yet-matched rows, then message profiles are gated by a hash groupby
on the gate field before any message regex runs — the reference's
cheap-predicate-first trick, applied per Arrow batch.  The two stages
exchange position-keyed rows (input position → parsed row, then →
message hit); one builder walks the input positions once and emits
every envelope tuple, JSON included, in input order.

A message may match multiple OS profiles → the stage *explodes* (the
reference flatMaps to every matching OS, server.py:194-216); rows no OS
matched become UNKNOWN envelopes; rows whose OS matched but no message
profile matched become RAW envelopes.

Determinism deviation (documented): where the reference stamps
``now()`` for unparseable timestamps, this engine falls back to the
row's event time ``ts`` so two runs over the same table are
byte-identical.  Year-less syslog dates get ``DEFAULT_YEAR`` (2017,
the golden-fixture era) instead of dateparser's "current year".
"""

from __future__ import annotations

import calendar
import json
import re
from datetime import datetime
from functools import lru_cache
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import types as T

from ..profiles.registry import (
    OsProfile,
    ProfileRegistry,
    load_registry,
    python_emit,
    python_extract,
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("os", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("ip", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("facility", T.IntegerType()),
        T.StructField("severity", T.IntegerType()),
        T.StructField("yang_model", T.StringType()),
        T.StructField("yang_message", T.StringType()),
        T.StructField("message_details", T.StringType()),
        T.StructField("state", T.LongType()),
        T.StructField("state_tag", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("entity", T.StringType()),
    ]
)

_OUT_COLS = ENVELOPE_SCHEMA.fieldNames()

DEFAULT_IP = "127.0.0.1"
DEFAULT_YEAR = 2017


#: one shared encoder — json.dumps builds a fresh JSONEncoder per call,
#: which is ~30% of its cost at this call volume (hot-path profiled)
_CANONICAL_ENCODER = json.JSONEncoder(
    sort_keys=True, separators=(",", ":"), ensure_ascii=False
).encode


def canonical_json(obj) -> str:
    """Deterministic JSON encoding shared by the engine and the tests."""
    return _CANONICAL_ENCODER(obj)


# ---------------------------------------------------------------------------
# timestamp resolution (M4)

#: deterministic fallback parser table for date shapes a profile did not
#: declare — the reference reaches for dateparser here
#: (device.py:217-224); this engine instead accepts the common syslog /
#: ISO-8601 / RFC-3339 shapes through an explicit, reproducible table
#: (same input → same epoch on every run and every executor; dateparser's
#: locale- and current-date-sensitive behavior cannot promise that).
_FALLBACK_FORMATS = (
    "%b %d %H:%M:%S",            # classic BSD syslog (year-less)
    "%b %d %H:%M:%S.%f",
    "%b %d %Y %H:%M:%S",         # year-present syslog variants
    "%Y %b %d %H:%M:%S",
    "%d %b %Y %H:%M:%S",
    "%Y-%m-%d %H:%M:%S",         # ISO 8601
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S%z",       # RFC 3339 with numeric offset
    "%Y-%m-%dT%H:%M:%S.%f%z",
    # space-separated date+offset: what a profile's {date} {time} split
    # reassembles for ISO-dated syslog (e.g. eos "2020-03-31
    # 08:41:59+00:00" — prefix captures date and time separately)
    "%Y-%m-%d %H:%M:%S%z",
    "%Y-%m-%d %H:%M:%S.%f%z",
    "%m/%d/%Y %H:%M:%S",
    # 2-digit-year shapes (tried after the %Y forms; %y pivots 00-68 →
    # 20xx, 69-99 → 19xx — and a 2-digit year that %Y happens to accept,
    # e.g. "24" → year 24, gets the same pivot in _try_parse)
    "%m/%d/%y %H:%M:%S",
    "%b %d %y %H:%M:%S",
    # syslog shapes with a trailing numeric offset — reached via the
    # tz-abbreviation rewrite below (e.g. "Mar 31 08:41:59 CEST")
    "%b %d %H:%M:%S %z",
    "%b %d %H:%M:%S.%f %z",
    "%b %d %Y %H:%M:%S %z",
    "%Y %b %d %H:%M:%S %z",
    "%d %b %Y %H:%M:%S %z",
)

#: locale month names/abbreviations → month number, the deterministic
#: slice of the reference's dateparser reach (device.py:217-224):
#: en/de/fr/es/pt/it/nl full names and common abbreviations.  Lookup is
#: diacritic-insensitive (NFD-stripped), so "MÄRZ", "märz" and "marz"
#: all resolve.  A collision across locales would be a silent
#: wrong-month bug — the table is asserted conflict-free at import.
_MONTH_NAMES: dict[str, int] = {}


def _strip_accents(s: str) -> str:
    import unicodedata

    return "".join(
        c for c in unicodedata.normalize("NFD", s)
        if unicodedata.category(c) != "Mn"
    )


def _register_months(names: tuple, lang: str) -> None:
    for m, raw in enumerate(names, start=1):
        for tok in ([raw] if isinstance(raw, str) else raw):
            key = _strip_accents(tok.lower())
            prev = _MONTH_NAMES.get(key)
            if prev is not None and prev != m:
                # a collision would silently resolve dates to the wrong
                # month — explicit raise (assert would vanish under -O)
                raise ValueError(
                    f"month-token collision: {key!r} = {prev} vs {m} ({lang})"
                )
            _MONTH_NAMES[key] = m


_register_months((
    ("january", "jan"), ("february", "feb"), ("march", "mar"),
    ("april", "apr"), "may", ("june", "jun"), ("july", "jul"),
    ("august", "aug"), ("september", "sep", "sept"),
    ("october", "oct"), ("november", "nov"), ("december", "dec"),
), "en")
_register_months((
    ("januar",), ("februar",), ("märz", "mär", "mrz"), (),
    (), ("juni",), ("juli",), (), (), ("oktober", "okt"),
    (), ("dezember", "dez"),
), "de")
_register_months((
    ("janvier", "janv"), ("février", "févr", "fevr"), ("mars",),
    ("avril", "avr"), ("mai",), ("juin",), ("juillet", "juil"),
    ("août", "aout"), ("septembre",), ("octobre",),
    ("novembre",), ("décembre", "déc"),
), "fr")
_register_months((
    ("enero", "ene"), ("febrero",), ("marzo",), ("abril", "abr"),
    ("mayo",), ("junio",), ("julio",), ("agosto", "ago"),
    ("septiembre", "setiembre"), ("octubre",), ("noviembre",),
    ("diciembre", "dic"),
), "es")
_register_months((
    ("janeiro",), ("fevereiro", "fev"), ("março",), (), ("maio",),
    ("junho",), ("julho",), (), ("setembro", "set"),
    ("outubro", "out"), ("novembro",), ("dezembro",),
), "pt")
_register_months((
    ("gennaio", "gen"), ("febbraio",), (), ("aprile",),
    ("maggio", "mag"), ("giugno", "giu"), ("luglio", "lug"),
    (), ("settembre",), ("ottobre", "ott"), (), ("dicembre",),
), "it")
_register_months((
    ("januari",), ("februari",), ("maart", "mrt"), (), ("mei",),
    (), (), ("augustus",), (), (), (), (),
), "nl")

_EN_ABBR = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
            "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

#: fixed-offset tz abbreviations (the unambiguous-enough common set;
#: where the world disagrees — CST, IST — the table follows
#: dateparser's defaults: US Central, India — and says so here rather
#: than guessing per-message).
_TZ_OFFSETS = {
    "UTC": "+0000", "GMT": "+0000", "UT": "+0000", "Z": "+0000",
    "EST": "-0500", "EDT": "-0400", "CST": "-0600", "CDT": "-0500",
    "MST": "-0700", "MDT": "-0600", "PST": "-0800", "PDT": "-0700",
    "AKST": "-0900", "AKDT": "-0800", "HST": "-1000",
    "WET": "+0000", "WEST": "+0100", "BST": "+0100",
    "CET": "+0100", "CEST": "+0200", "EET": "+0200", "EEST": "+0300",
    "MSK": "+0300", "IST": "+0530", "SGT": "+0800", "HKT": "+0800",
    "JST": "+0900", "KST": "+0900",
    "AEST": "+1000", "AEDT": "+1100", "AWST": "+0800",
    "NZST": "+1200", "NZDT": "+1300",
}

_TZ_TAIL_RE = re.compile(r"^(.*\S)\s+([A-Z]{1,4})$")
_DAY_DOT_RE = re.compile(r"\b(\d{1,2})\.(?=\s)")
#: ordinal day suffixes ("Jan 2nd", "3rd Mar") — a dateparser behavior
#: profiles hit on chat-style date lines; pure suffix strip, never
#: touches e.g. "1st-floor" (requires the token to END at the suffix)
_ORDINAL_RE = re.compile(r"\b(\d{1,2})(?:st|nd|rd|th)\b", re.IGNORECASE)


def _rewrite_candidates(s: str):
    """Deterministic rewrites widening the fallback table's reach:
    Z suffix → +0000, trailing tz abbreviation → numeric offset,
    locale month token → English %b abbreviation, day-dot ("15." de
    style) → "15".  Yields at most a handful of strings; every rewrite
    is a pure string substitution — same input, same candidates, on
    every executor (the reproducibility bar dateparser can't meet)."""
    seen = set()

    def _emit(x):
        if x not in seen:
            seen.add(x)
            yield x

    def _tz(x):
        yield from _emit(x)
        if x.endswith("Z"):
            yield from _emit(x[:-1] + "+0000")
        m = _TZ_TAIL_RE.match(x)
        if m and m.group(2) in _TZ_OFFSETS:
            off = _TZ_OFFSETS[m.group(2)]
            yield from _emit(m.group(1) + " " + off)   # "... %z" shapes
            yield from _emit(m.group(1) + off)         # "...%z" shapes

    def _months(x):
        yield from _tz(x)
        toks = x.split(" ")
        for i, t in enumerate(toks):
            key = _strip_accents(t.rstrip(".,").lower())
            mnum = _MONTH_NAMES.get(key)
            if mnum and not t.isdigit():
                rew = " ".join(toks[:i] + [_EN_ABBR[mnum - 1]] + toks[i + 1:])
                yield from _tz(rew)
                break

    # BSD syslog pads single-digit days with a SECOND space ("Jan  2");
    # strptime tolerates runs of whitespace, but the token-wise month
    # rewrite above splits on single spaces — collapse runs first so
    # "Janvier  2" still finds its month token
    s = re.sub(r"\s{2,}", " ", s)
    yield from _months(s)
    dd = _DAY_DOT_RE.sub(r"\1", s)
    if dd != s:
        yield from _months(dd)
    od = _ORDINAL_RE.sub(r"\1", s)
    if od != s:
        yield from _months(od)


def _try_parse(s: str, fmt: str, default_year: int):
    try:
        parsed = datetime.strptime(s, fmt)
    except (ValueError, TypeError):
        return None
    if parsed.year == 1900:  # format without %Y
        parsed = parsed.replace(year=default_year)
    elif parsed.year < 100:
        # a 2-digit year greedily matched by %Y ("03/31/24" → year 24):
        # apply strptime's own %y pivot (00-68 → 20xx, 69-99 → 19xx) —
        # deterministic, and no log source in this domain predates 1969
        parsed = parsed.replace(
            year=parsed.year + (2000 if parsed.year <= 68 else 1900)
        )
    if parsed.tzinfo is not None:  # offset-aware → normalize to UTC
        return int(parsed.timestamp())
    return calendar.timegm(parsed.timetuple())


@lru_cache(maxsize=65536)
def _resolve_epoch(date: str, time: str, fmt: str | None, default_year: int):
    """Declared profile format first; on miss, the fallback table.

    ``Z``-suffixed RFC-3339 strings are handled by rewriting the suffix
    to ``+0000`` (strptime's %z accepts Z only on some platforms).
    """
    s = f"{date} {time}".strip() if time else str(date).strip()
    if fmt is not None:
        epoch = _try_parse(s, fmt, default_year)
        if epoch is not None:
            return epoch
    for cand in _rewrite_candidates(s):
        for fb in _FALLBACK_FORMATS:
            epoch = _try_parse(cand, fb, default_year)
            if epoch is not None:
                return epoch
    return None


# ---------------------------------------------------------------------------
# stage A: prefix identification (P2/P4), vectorized per (os, prefix)


def _prefix_row(d: dict, epoch) -> tuple:
    """One parsed row; the stripped message and the PRI's facility and
    severity go into ``d`` too (reference server.py:185-191)."""
    msg = d.get("message")
    if isinstance(msg, str):
        msg = msg.strip()
        d["message"] = msg
    pri = d.get("pri")
    fac = sev = None
    if pri is not None:
        fac, sev = divmod(int(pri), 8)
        d["facility"] = fac
        d["severity"] = sev
    return (d, d.get("host"), d.get("tag"), msg, fac, sev, epoch)


def _prefix_stage(txt, osp: OsProfile) -> dict:
    """First matching prefix wins per OS; returns the parsed rows by
    input position (empty when nothing matched).

    Hot loop works on a raw numpy object array and python dicts — pandas
    indexing is kept out of the per-row path (it dominated the profile).
    """
    remaining = range(len(txt))
    rows: dict = {}  # position -> (details, host, tag, message, fac, sev, epoch)

    for pp in osp.prefixes:
        if not remaining:
            break
        still = []
        if pp.python_path is not None:
            path = pp.python_path
            for pos in remaining:
                s = txt[pos]
                d = python_extract(path, s) if isinstance(s, str) else None
                if d is None:
                    still.append(pos)
                    continue
                epoch = d.pop("timestamp", None)
                rows[pos] = _prefix_row(d, None if epoch is None else int(epoch))
            remaining = still
            continue
        cp = pp.pattern
        rx = cp.regex()
        groups = list(cp.group_index.items())
        fmt = pp.time_format
        lit = cp.required_literal
        for pos in remaining:
            s = txt[pos]
            # O(1) necessary-substring gates before the regex engine:
            # every wrapped prefix requires '<' (the pri), plus the
            # template's own longest literal fragment
            if (
                not isinstance(s, str)
                or "<" not in s
                or (lit is not None and lit not in s)
            ):
                still.append(pos)
                continue
            m = rx.search(s)
            if m is None:
                still.append(pos)
                continue
            d = {name: m.group(g) for name, g in groups}
            epoch = None
            date, time_ = d.get("date"), d.get("time")
            if date or time_:  # declared fmt first, fallback table after
                epoch = _resolve_epoch(date or "", time_ or "", fmt, DEFAULT_YEAR)
            rows[pos] = _prefix_row(d, epoch)
        remaining = still
    return rows


# ---------------------------------------------------------------------------
# stage B: tag-gated message match + casts + emit (M2/M3/M5/M6/M9)


def _apply_casts(captures: dict, casts: dict) -> dict:
    if not casts:
        return captures
    from ..compat import cast as cast_fn

    out = dict(captures)
    for key, fn_name in casts.items():
        val = out.get(key)
        if val is not None:
            out[key] = cast_fn(val, fn_name)
    return out


def _set_parts(oc: dict, segs, dyn, captures, value):
    if dyn:
        segs = list(segs)
        for i in dyn:
            segs[i] = segs[i].format(**captures)
            # parity with setval(path.format(...)): a capture value
            # containing '//' splits into extra nesting levels
            if "//" in segs[i]:
                segs[i : i + 1] = segs[i].split("//")
    node = oc
    for part in segs[:-1]:
        try:
            nxt = node[part]
            if type(nxt) is not dict:  # leaf collision → replace (setval parity)
                nxt = {}
                node[part] = nxt
        except KeyError:
            nxt = {}
            node[part] = nxt
        node = nxt
    node[segs[-1]] = value
    return oc


def _build_yang(plan: tuple, captures: dict) -> dict:
    """The YANG object of one match, from its profile's precompiled
    plan (setval(path.format(...)) parity, device.py:192-208)."""
    variables, static = plan
    oc: dict = {}
    for segs, dyn, source_key in variables:
        _set_parts(oc, segs, dyn, captures, captures[source_key])
    for segs, dyn, literal in static:
        _set_parts(oc, segs, dyn, captures, literal)
    return oc


_OC_FAILED = object()  # sentinel: profile matched but object generation failed

#: capture names that identify the affected entity, in priority order —
#: feeds the CEP stage (up/down pairing keys on (host, entity), the
#: relational analog of the reference's per-entity gauges,
#: transport/prometheus.py:70-93).  ``component`` keys the SYSTEM_ALARM
#: gauge (prometheus.py:490-497 labels by component name) and
#: ``reason`` keys the minor/major alarm gauges (prometheus.py:520-527
#: labels by the alarm's additional-text).
_ENTITY_KEYS = ("interface", "neighbor", "peer", "user", "component", "reason")


def _entity_of(captures: dict):
    for key in _ENTITY_KEYS:
        val = captures.get(key)
        if val is not None:
            return str(val)
    return None


def _message_stage(osp: OsProfile, parsed: dict) -> dict:
    """Match message profiles against the parsed rows of one OS; return
    the hits by input position (a row no profile matched has none).

    The OS's dispatch index (built at registry load) keys profiles by
    gate value, so a message regex only ever runs on rows whose gate
    references it — reference device.py:143-147's cheap-predicate-first
    ordering, applied to a whole Arrow batch via a hash groupby.
    """
    hits: dict = {}  # position -> (error, model, yang_obj, state, state_tag, entity)

    for match_field, profile_index in osp.dispatch.items():
        # group row positions by gate value (hash gate before any regex)
        groups: dict = {}
        for pos, row in parsed.items():
            tv = row[2] if match_field == "tag" else row[0].get(match_field)
            if tv is not None and tv in profile_index:
                groups.setdefault(tv, []).append(pos)

        for tag_value, positions in groups.items():
            pending = [p for p in positions if p not in hits]
            for mp in profile_index[tag_value]:
                if not pending:
                    break
                if mp.python_path is not None:
                    # tag equality alone selects a python profile
                    # (device.py:149-155); its emit() builds the object;
                    # an emit exception publishes nothing (device.py:327-333)
                    for pos in pending:
                        det = parsed[pos][0]
                        yang = python_emit(mp.python_path, det)
                        hits[pos] = (
                            mp.error,
                            mp.model,
                            yang if yang is not None else _OC_FAILED,
                            mp.state,
                            mp.state_tag,
                            _entity_of(det),
                        )
                    pending = []
                    continue
                cp = mp.pattern
                rx = cp.regex()
                groups_items = list(cp.group_index.items())
                casts = cp.casts
                still = []
                for pos in pending:
                    s = parsed[pos][3]
                    m = rx.search(s) if isinstance(s, str) else None
                    if m is None:
                        still.append(pos)
                        continue
                    captures = _apply_casts(
                        {nm: m.group(g) for nm, g in groups_items}, casts
                    )
                    try:
                        yang = _build_yang(mp.yang_plan, captures)
                    except Exception:
                        yang = _OC_FAILED
                    hits[pos] = (
                        mp.error,
                        mp.model,
                        yang,
                        mp.state,
                        mp.state_tag,
                        _entity_of(captures),
                    )
                pending = still
    return hits


# ---------------------------------------------------------------------------
# the full batch transform

#: the envelope fields the builder emits, in tuple order
_ENV_COLS = [
    "os", "error", "yang_model", "yang_message", "state", "state_tag",
    "entity", "message_details", "host", "tag", "message", "facility",
    "severity", "timestamp",
]
#: the message hit of a row its OS identified but no profile matched
_RAW_HIT = ("RAW", "raw", None, None, None, None)


def normalize_pandas(pdf: pd.DataFrame, registry: ProfileRegistry) -> pd.DataFrame:
    """Normalize one Arrow batch of transcript rows into envelope rows.

    Every RAW and UNKNOWN envelope is emitted; the sink's
    ``send_raw``/``send_unknown`` filter decides what is published.
    """
    if pdf.empty:
        return pd.DataFrame({c: [] for c in _OUT_COLS})
    # a null text (a corrupt JSON line) stays null, never the string "None"
    txt = pdf["text"].astype(str).where(pdf["text"].notna(), None)
    txt = txt.to_numpy(dtype=object)
    stages = []
    for os_name, osp in sorted(registry.oses.items()):
        parsed = _prefix_stage(txt, osp)
        if parsed:
            stages.append((os_name, parsed, _message_stage(osp, parsed)))

    rows, src = [], []
    for pos, text in enumerate(txt):
        identified = False
        for os_name, parsed, hits in stages:
            row = parsed.get(pos)
            if row is None:
                continue
            identified = True
            error, model, yang, state, state_tag, entity = hits.get(pos, _RAW_HIT)
            if yang is _OC_FAILED:
                # a matched profile whose object generation failed
                # publishes nothing at all (reference device.py:327-333)
                continue
            details, host, tag, message, fac, sev, epoch = row
            rows.append((
                os_name, error, model,
                None if yang is None else canonical_json(yang),
                state, state_tag, entity, canonical_json(details),
                host, tag, message, fac, sev, epoch,
            ))
            src.append(pos)
        if not identified:
            rows.append((
                "unknown", "UNKNOWN", "unknown", None, None, None, None,
                canonical_json({"message": text}), "unknown",
                None, None, None, None, None,
            ))
            src.append(pos)

    res = pd.DataFrame(
        rows, columns=_ENV_COLS, index=pd.Index(src, dtype="int64"), dtype=object
    )
    base = pdf.iloc[src]
    for col in ("conv_id", "turn_idx", "role", "tool", "ts"):
        res[col] = base[col].array if col in base.columns else None
    res["ip"] = DEFAULT_IP
    for col in ("timestamp", "facility", "severity", "state"):
        res[col] = res[col].astype("Int64")
    if "turn_idx" in base.columns:
        res["turn_idx"] = res["turn_idx"].astype("Int64")
    if "ts" in base.columns:
        # fallback event-time epochs (determinism: event time, never now())
        ts = pd.to_datetime(base["ts"])
        fallback = pd.Series(ts.astype("int64") // 1_000_000_000, dtype="Int64")
        res["timestamp"] = res["timestamp"].where(
            res["timestamp"].notna(), fallback.mask(ts.isna().values, pd.NA).array
        )
    return res[_OUT_COLS]


def normalize(df, registry: ProfileRegistry | None = None):
    """Spark entry: transcript DataFrame → envelope DataFrame (exploded).

    Works identically on batch and streaming DataFrames (mapInPandas is
    streaming-safe and stateless).
    """
    registry = registry or load_registry()

    def _batches(iterator: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            yield normalize_pandas(pdf, registry)

    return df.mapInPandas(_batches, schema=ENVELOPE_SCHEMA)
