"""The round driver parses bench.py's result out of a ~2,000-char
stdout tail.  Round 1's 1,269-char JSON parsed; rounds 2-3 outgrew the
window and round 4 timed out — so the compact line's size is a HARD
contract (VERDICT r4 item 4): registry/suite growth must never
silently re-break the channel."""

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()
#: the smallest generated data dir, next to the bench's default sf0.1
TINY_SF_DIR = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.001")


def _worst_case_qtimes():
    q = {name: 99.99 for name in bench.HEADLINE}
    assert len(q) >= 20  # the real suite; keep the test honest
    return q


def test_compact_line_fits_driver_window():
    qtimes = _worst_case_qtimes()
    s = bench._compact_result(qtimes, 0.1)
    assert len(s) < bench.COMPACT_LIMIT, len(s)
    parsed = json.loads(s)
    assert parsed["unit"] == "sec"
    assert parsed["value"] == round(sum(qtimes.values()), 3)


def test_compact_line_single_line_and_parseable():
    s = bench._compact_result(_worst_case_qtimes(), 0.1)
    assert "\n" not in s
    json.loads(s)


def test_compact_degrades_rather_than_overflows():
    # even with an absurd suite (200 long-named queries), the line must
    # stay inside the window by degrading the per-query map
    q = {f"very_long_query_name_number_{i:04d}": 123.456 for i in range(200)}
    s = bench._compact_result(q, 0.1)
    assert len(s) < bench.COMPACT_LIMIT, len(s)
    parsed = json.loads(s)
    assert parsed["queries"].get("n_queries") == 200


def test_compact_limit_counts_bytes_not_characters():
    # multibyte query names must not push the line's UTF-8 size past
    # the window while its character count fits
    q = {f"requête_{i:02d}_échec — 失败": 99.99
         for i in range(len(bench.HEADLINE))}
    s = bench._compact_result(q, 0.1)
    assert len(s.encode("utf-8")) < bench.COMPACT_LIMIT
    assert json.loads(s)["queries"] == q


def test_main_prints_compact_line_and_writes_detail(tmp_path):
    # a subprocess, not in-process: main() stops its Spark session,
    # which would kill the session the rest of the suite shares
    detail = tmp_path / "d.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=TINY_SF_DIR,
               SPARK_GRAFT_BENCH_DETAIL=str(detail))
    headline = ["q6_forecast_revenue", "c3_tumbling_counts"]
    res = subprocess.run(
        [sys.executable, "-c",
         f"import bench; bench.HEADLINE[:] = {headline!r}; bench.main()"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    last = res.stdout.strip().splitlines()[-1]
    assert len(last.encode("utf-8")) < bench.COMPACT_LIMIT
    parsed = json.loads(last)
    assert parsed["unit"] == "sec"
    assert list(parsed["queries"]) == headline
    assert detail.exists()
