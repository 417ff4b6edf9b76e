"""Property-based tests (hypothesis) for the pure-python kernel:
template compilation, nested-path building, casts, TTL dedup math."""

import re
import string

from hypothesis import example, given, settings
from hypothesis import strategies as st

from napalm_logs_spark.compat import cast, setval, traverse
from napalm_logs_spark.profiles.compiler import compile_line

# no digits in literals: a digit adjacent to a (\d+) hole makes the
# template genuinely ambiguous, which is a property of regexes, not a
# compiler bug
LITERAL = st.text(
    alphabet=string.ascii_letters + " :,.-/", min_size=1, max_size=8
)
KEY = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)


@given(st.lists(st.tuples(KEY, LITERAL), min_size=1, max_size=4, unique_by=lambda t: t[0]))
@settings(max_examples=200, deadline=None)
def test_compiled_template_matches_its_own_rendering(parts):
    """A template '{k1}lit1{k2}lit2…' compiled with digit-hole regexes
    must match the string produced by substituting digits into the holes
    and capture exactly those digits."""
    line = ""
    rendered = ""
    values = {}
    expected = {}
    for i, (key, lit) in enumerate(parts):
        val = str(100 + i)
        line += "{" + key + "}" + lit
        rendered += val + lit
        values[key] = r"(\d+)"
        expected[key] = val
    cp = compile_line(line, values)
    m = cp.regex().search(rendered)
    assert m is not None
    got = {name: m.group(idx) for name, idx in cp.group_index.items()}
    assert got == expected


@given(st.lists(KEY, min_size=1, max_size=6), st.integers())
@settings(max_examples=200, deadline=None)
def test_setval_traverse_roundtrip(path_parts, value):
    path = "//".join(path_parts)
    d = setval(path, value)
    assert traverse(d, path) == value


@given(st.integers(-10**9, 10**9))
def test_cast_int_roundtrip(n):
    assert cast(str(n), "int") == n


@given(st.text(max_size=20))
def test_cast_unknown_and_upper(s):
    assert cast(s, "definitely_not_a_cast") == s
    assert cast(s, "upper") == s.upper()


@given(
    st.lists(st.floats(min_value=0, max_value=1000, allow_nan=False), min_size=1, max_size=50),
    st.floats(min_value=0.5, max_value=30),
)
@settings(max_examples=100, deadline=None)
def test_anchored_ttl_reference_model(offsets, ttl):
    """The pure-python anchored-TTL scan (same algorithm as both the
    batch applyInPandas and streaming state operators) keeps exactly the
    rows a literal reference simulation of the memory buffer keeps."""
    ts = sorted(offsets)
    # engine algorithm
    keep_engine = []
    anchor = None
    for t in ts:
        if anchor is None or t - anchor >= ttl:
            keep_engine.append(t)
            anchor = t
    # reference simulation: dict cache with expiry check on read
    cache = {}
    keep_ref = []
    for t in ts:
        item = cache.get("k")
        if item is not None and t - item < ttl:
            continue
        cache["k"] = t
        keep_ref.append(t)
    assert keep_engine == keep_ref


# ---------------------------------------------------------------------------
# M4 timestamp fallback table (deterministic dateparser substitute)


import calendar
from datetime import datetime, timezone

DT = st.datetimes(
    min_value=datetime(1990, 1, 1), max_value=datetime(2035, 12, 31, 23, 59, 59)
).map(lambda d: d.replace(microsecond=0))


@given(DT)
@settings(max_examples=150, deadline=None)
def test_fallback_parses_iso8601(dt):
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    expect = calendar.timegm(dt.timetuple())
    for rendered in (
        dt.strftime("%Y-%m-%d %H:%M:%S"),
        dt.strftime("%Y-%m-%dT%H:%M:%S"),
        dt.strftime("%Y-%m-%dT%H:%M:%S") + "Z",
        dt.strftime("%Y-%m-%dT%H:%M:%S") + "+00:00",
    ):
        got = _resolve_epoch(rendered, "", None, 2017)
        assert got == expect, rendered


@given(DT, st.sampled_from([-11, -5, -1, 1, 3, 9, 13]))
@settings(max_examples=100, deadline=None)
def test_fallback_normalizes_rfc3339_offsets(dt, off_hours):
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    rendered = dt.strftime("%Y-%m-%dT%H:%M:%S") + f"{off_hours:+03d}:00"
    got = _resolve_epoch(rendered, "", None, 2017)
    expect = calendar.timegm(dt.timetuple()) - off_hours * 3600
    assert got == expect


@given(DT)
@settings(max_examples=100, deadline=None)
def test_fallback_yearless_syslog_gets_default_year(dt):
    from hypothesis import assume

    from napalm_logs_spark.operators.normalize import _resolve_epoch

    # Feb 29 cannot exist in strptime's implicit year 1900 (nor 2017);
    # yearless leap-day messages keep the event-time fallback upstream
    assume(not (dt.month == 2 and dt.day == 29))
    date = dt.strftime("%b %d")
    time_ = dt.strftime("%H:%M:%S")
    got = _resolve_epoch(date, time_, None, 2017)
    expect = calendar.timegm(dt.replace(year=2017).timetuple())
    assert got == expect


def test_declared_format_still_wins():
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    # a declared profile format parses first — identical inputs must not
    # be re-interpreted by the fallback table
    assert _resolve_epoch("Jul 8", "23:04:13", "%b %d %H:%M:%S", 2017) == \
        calendar.timegm(datetime(2017, 7, 8, 23, 4, 13).timetuple())
    # unparseable by the declared format -> fallback accepts ISO
    assert _resolve_epoch("2020-01-02", "03:04:05", "%b %d %H:%M:%S", 2017) == \
        calendar.timegm(datetime(2020, 1, 2, 3, 4, 5).timetuple())
    # garbage stays None (event-time fallback upstream)
    assert _resolve_epoch("not a date", "at all", None, 2017) is None


def test_fallback_space_separated_offset():
    # eos ISO8601 fixture shape: prefix splits '2020-03-31' and
    # '08:41:59+00:00' into separate date/time captures
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    assert _resolve_epoch("2020-03-31", "08:41:59+00:00", None, 2017) == 1585644119
    assert _resolve_epoch("2020-03-31", "10:41:59+02:00", None, 2017) == 1585644119


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), st.integers(0, 10**6))
@settings(max_examples=200, deadline=None)
def test_stratified_threshold_membership_model(rate, doc_id):
    """The hex-threshold membership rule equals the numeric model:
    keep iff first-16-bits-of-md5(id) < round(rate * 2^16)."""
    import hashlib

    threshold = format(int(round(min(max(rate, 0.0), 1.0) * 0x10000)), "05x")
    h4 = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
    lexical = ("0" + h4) < threshold
    numeric = int(h4, 16) < int(round(rate * 0x10000))
    assert lexical == numeric


# ---------------------------------------------------------------------------
# M4 breadth (round 3): locale month names + tz abbreviations — the
# deterministic slice of the reference's dateparser reach
# (/root/reference/napalm_logs/device.py:217-224)

_LOCALE_MONTHS = {
    "de": ["Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
           "August", "September", "Oktober", "November", "Dezember"],
    "fr": ["janvier", "février", "mars", "avril", "mai", "juin", "juillet",
           "août", "septembre", "octobre", "novembre", "décembre"],
    "es": ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre"],
    "pt": ["janeiro", "fevereiro", "março", "abril", "maio", "junho",
           "julho", "agosto", "setembro", "outubro", "novembro", "dezembro"],
    "it": ["gennaio", "febbraio", "marzo", "aprile", "maggio", "giugno",
           "luglio", "agosto", "settembre", "ottobre", "novembre",
           "dicembre"],
    "nl": ["januari", "februari", "maart", "april", "mei", "juni", "juli",
           "augustus", "september", "oktober", "november", "december"],
    "en": ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"],
}


@given(DT, st.sampled_from(sorted(_LOCALE_MONTHS)), st.booleans(),
       st.booleans())
@settings(max_examples=200, deadline=None)
def test_fallback_parses_locale_month_names(dt, lang, day_dot, upper):
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    name = _LOCALE_MONTHS[lang][dt.month - 1]
    if upper:
        name = name.upper()
    day = f"{dt.day:02d}." if day_dot else f"{dt.day:02d}"
    rendered = f"{day} {name} {dt.year} " + dt.strftime("%H:%M:%S")
    got = _resolve_epoch(rendered, "", None, 2017)
    assert got == calendar.timegm(dt.timetuple()), rendered


@given(DT, st.sampled_from([
    ("UTC", 0), ("GMT", 0), ("EST", -5 * 3600), ("EDT", -4 * 3600),
    ("CST", -6 * 3600), ("PST", -8 * 3600), ("PDT", -7 * 3600),
    ("CET", 3600), ("CEST", 2 * 3600), ("BST", 3600),
    ("IST", 5 * 3600 + 1800), ("JST", 9 * 3600), ("MSK", 3 * 3600),
    ("AEST", 10 * 3600), ("NZDT", 13 * 3600),
]))
@settings(max_examples=200, deadline=None)
def test_fallback_parses_tz_abbreviations(dt, tz):
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    abbr, off = tz
    expect = calendar.timegm(dt.timetuple()) - off
    for rendered in (
        dt.strftime("%Y-%m-%d %H:%M:%S") + f" {abbr}",
        dt.strftime("%b %d %Y %H:%M:%S") + f" {abbr}",
    ):
        got = _resolve_epoch(rendered, "", None, 2017)
        assert got == expect, rendered


def test_month_token_table_is_collision_free():
    # the import-time assertion is the real gate; this pins it visibly
    from napalm_logs_spark.operators.normalize import _MONTH_NAMES

    assert _MONTH_NAMES["marz"] == 3 and _MONTH_NAMES["mrt"] == 3
    assert _MONTH_NAMES["dic"] == 12 and _MONTH_NAMES["dez"] == 12
    assert len(_MONTH_NAMES) > 80


def test_unparseable_still_none():
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    assert _resolve_epoch("31 Smarch 2024", "10:00:00", None, 2017) is None
    assert _resolve_epoch("2024-01-01 10:00:00 XQZT", "", None, 2017) is None


def _epoch(dt):
    return calendar.timegm(dt.timetuple())


def _epoch_in_2017(dt):
    """A year-less date resolves in the default year 2017; Feb 29 has
    no date there, so it stays unresolved."""
    try:
        return _epoch(dt.replace(year=2017))
    except ValueError:
        return None


@given(DT, st.booleans(), st.booleans())
@example(datetime(2000, 2, 29), False, False)
@settings(max_examples=200, deadline=None)
def test_fallback_parses_ordinal_days(dt, upper, with_year):
    # "Jan 2nd 2024 03:04:05" — dateparser ordinal-day breadth (r4)
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    suf = {1: "st", 2: "nd", 3: "rd"}.get(
        dt.day if dt.day < 20 else dt.day % 10, "th"
    )
    if upper:
        suf = suf.upper()
    year = f" {dt.year}" if with_year else ""
    rendered = (dt.strftime("%b") + f" {dt.day}{suf}{year} "
                + dt.strftime("%H:%M:%S"))
    got = _resolve_epoch(rendered, "", None, 2017)
    assert got == (_epoch(dt) if with_year else _epoch_in_2017(dt)), rendered


@given(DT)
@example(datetime(2000, 2, 29))
@settings(max_examples=200, deadline=None)
def test_fallback_parses_padded_single_digit_day(dt):
    # BSD syslog pads day to width 2 WITH A SPACE: "Jan  2 03:04:05"
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    day = f"{dt.day:2d}"  # " 2" or "12"
    rendered = dt.strftime("%b") + f" {day} " + dt.strftime("%H:%M:%S")
    got = _resolve_epoch(rendered, "", None, 2017)
    assert got == _epoch_in_2017(dt), rendered


@given(DT)
@settings(max_examples=200, deadline=None)
def test_fallback_two_digit_year_pivot(dt):
    # "%m/%d/24"-style 2-digit years: %Y greedily matches "24" as year
    # 24; the strptime %y pivot (00-68 → 20xx, 69-99 → 19xx) applies
    from napalm_logs_spark.operators.normalize import _resolve_epoch

    yy = dt.year % 100
    century = 2000 if yy <= 68 else 1900
    expect = calendar.timegm(dt.replace(year=century + yy).timetuple())
    for rendered in (
        dt.strftime(f"%m/%d/{yy:02d} %H:%M:%S"),
        dt.strftime(f"%b %d {yy:02d} %H:%M:%S"),
    ):
        got = _resolve_epoch(rendered, "", None, 2017)
        assert got == expect, rendered
