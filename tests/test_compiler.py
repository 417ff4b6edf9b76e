"""Unit tests for profile template → regex compilation."""

import os

from napalm_logs_spark.profiles.compiler import compile_line


def _groups(cp, text):
    """{hole: captured or None} of the first match, or None."""
    m = cp.regex().search(text)
    if m is None:
        return None
    return {name: m.group(idx) for name, idx in cp.group_index.items()}


def test_prefix_wrapping_adds_pri_and_message():
    cp = compile_line(
        "{date} {time} {host} {tag}: ",
        {
            "date": r"(\w+ +\d+)",
            "time": r"(\d\d:\d\d:\d\d)",
            "host": r"([^ ]+)",
            "tag": r"(\w+)",
        },
        wrap_prefix=True,
    )
    groups = _groups(cp, 
        "<28>Jul 20 21:45:59 vmx01 mib2d: SNMP_TRAP_LINK_DOWN: ifIndex 502"
    )
    assert groups is not None
    assert groups["pri"] == "28"
    assert groups["date"] == "Jul 20"
    assert groups["host"] == "vmx01"
    assert groups["tag"] == "mib2d"
    assert groups["message"].startswith("SNMP_TRAP_LINK_DOWN")


def test_whitespace_matches_any_run():
    cp = compile_line("{a} {b}", {"a": r"(\d+)", "b": r"(\d+)"})
    assert _groups(cp, "12     34") == {"a": "12", "b": "34"}


def test_literal_text_is_escaped():
    cp = compile_line("val({x})", {"x": r"(\d+)"})
    assert _groups(cp, "val(7)") == {"x": "7"}
    assert _groups(cp, "valX7Y") is None


def test_cast_suffix_collected():
    cp = compile_line(
        "status {s}({v})", {"s|upper": r"(\w+)", "v": r"(\d)"}
    )
    assert cp.casts == {"s": "upper"}
    assert _groups(cp, "status down(2)") == {"s": "down", "v": "2"}


def test_group_order_follows_template_position():
    cp = compile_line("{b} {a}", {"a": r"(A)", "b": r"(B)"})
    assert cp.group_index == {"b": 1, "a": 2}
    assert _groups(cp, "B A") == {"a": "A", "b": "B"}


def test_optional_group_yields_none():
    cp = compile_line(
        "{opt}{host}", {"opt": r"(re\d.)?", "host": r"([^ ]+)"}
    )
    got = _groups(cp, "vmx01")
    assert got["opt"] is None
    assert got["host"] == "vmx01"


def test_zip_profile_extraction(tmp_path, monkeypatch):
    """--py-files deployment: the vendored profile tree extracts from a
    zip once, into a stable hashlib-keyed cache, and loads identically
    to the on-disk corpus."""
    import zipfile

    import napalm_logs_spark
    from napalm_logs_spark.profiles import registry as reg

    pkg_root = os.path.dirname(os.path.dirname(napalm_logs_spark.__file__))
    zpath = tmp_path / "nls.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        vend = os.path.join(pkg_root, "napalm_logs_spark", "profiles", "vendored")
        for root, _dirs, files in os.walk(vend):
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, pkg_root))
    fake_pkg_path = str(zpath / "napalm_logs_spark" / "profiles" / "vendored")
    out1 = reg._materialize_pkg_dir(fake_pkg_path)
    out2 = reg._materialize_pkg_dir(fake_pkg_path)
    assert out1 and os.path.isdir(out1)
    assert out1 == out2  # stable cache, no re-extraction churn
    r_zip = reg.load_registry(out1)
    r_disk = reg.load_registry(vend)
    assert sorted(r_zip.oses) == sorted(r_disk.oses)
    junos_zip = r_zip.oses["junos"]
    junos_disk = r_disk.oses["junos"]

    def n_profiles(osp):
        return sum(
            len(mps) for index in osp.dispatch.values() for mps in index.values()
        )

    assert n_profiles(junos_zip) == n_profiles(junos_disk)
