"""COVERAGE.md consistency gate (VERDICT r3 item 5: the doc carried a
K7 row saying "BUILT" and, two rows below, a stale "out of scope" row).

Rules enforced:
* no operator tag (S1..S5, P1..P7, A1..A2, M1..M9, C1..C6, K1..K8) may
  open both an implemented row and an out-of-scope/n-a row;
* every driver-query name referenced in the table exists in the
  queries() registry;
* every package module README.md or COVERAGE.md names exists.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC = open(os.path.join(REPO, "COVERAGE.md")).read()
README = open(os.path.join(REPO, "README.md")).read()
PKG = os.path.join(REPO, "napalm_logs_spark")

TAG = re.compile(r"^\|\s*([SPAMCK]\d+)\b", re.M)


def _rows():
    out = []
    for line in DOC.splitlines():
        m = TAG.match(line)
        if m:
            out.append((m.group(1), line))
    return out


def test_no_tag_is_both_built_and_out_of_scope():
    status = {}
    for tag, line in _rows():
        is_na = "out of scope" in line.lower() or "n/a" in line.lower()
        status.setdefault(tag, set()).add("na" if is_na else "built")
    contradictions = {t: s for t, s in status.items() if len(s) > 1}
    assert not contradictions, contradictions


def test_driver_query_refs_exist():
    q = set(entrymod.queries())
    # third column of each op row names driver queries ("—" for none)
    missing = []
    for _tag, line in _rows():
        cells = [c.strip() for c in line.split("|")]
        if len(cells) < 5:
            continue
        ref = cells[3]
        if ref in ("—", "-", ""):
            continue
        for name in re.split(r"[,\s()]+", ref):
            name = name.strip().rstrip(",")
            # only tokens shaped like registry names (prefix_rest);
            # the column also carries prose annotations
            if (name and "_" in name
                    and re.fullmatch(r"[a-z][a-z0-9]*_[a-z0-9_]+", name)
                    and name not in q):
                missing.append((cells[1][:30], name))
    assert not missing, missing


MODULE_REF = re.compile(r"\b(operators|streaming|sources|profiles)/(\w+)")


def _named_modules():
    """``(doc, path)`` of every package module a doc names, the path
    relative to the package and without ``.py``."""
    out = [
        (name, f"{d}/{m}")
        for name, text in (("README.md", README), ("COVERAGE.md", DOC))
        for d, m in MODULE_REF.findall(text)
    ]
    # README's layout block lists files under their directory's line
    block = README.split("## Layout", 1)[1].split("```")[1]
    in_pkg, sub = False, None
    for line in block.splitlines():
        if line and not line.startswith(" "):
            in_pkg = line.startswith("napalm_logs_spark/")
            continue
        if not in_pkg:
            continue
        if m := re.match(r"^  (\w+)/(\s|$)", line):
            sub = m.group(1)
        elif m := re.match(r"^  (\w+)\.py\b", line):
            sub = None
            out.append(("README.md", m.group(1)))
        elif (m := re.match(r"^    (\w+)\.py\b", line)) and sub:
            out.append(("README.md", f"{sub}/{m.group(1)}"))
    return out


def test_named_modules_exist():
    named = _named_modules()
    assert ("README.md", "streaming/sink") in named  # the block is parsed
    missing = sorted({
        (doc, path) for doc, path in named
        if not os.path.isfile(os.path.join(PKG, path + ".py"))
        and not os.path.isdir(os.path.join(PKG, path))
    })
    assert not missing, missing
