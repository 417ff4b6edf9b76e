"""The round driver parses bench.py's result out of a ~2,000-char
stdout tail.  Round 1's 1,269-char JSON parsed; rounds 2-3 outgrew the
window and round 4 timed out — so the compact line's size is a HARD
contract (VERDICT r4 item 4): registry/suite growth must never
silently re-break the channel."""

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


def _full_scaling_dict():
    """A scaling dict with EVERY key _run_scaling can set, worst-case
    widths (large numbers, all phases completed)."""
    cpus = bench.CPUS
    s_lo, s_hi = max(cpus // 8, 1), min(4 * max(cpus // 8, 1), cpus)
    return {
        "detail": "BENCH_local_detail.json",
        "note": "single-box two-cluster-size simulation: interleaved "
                "quarter-box pinned pairs w/ antagonist busy-load, "
                "budget-fitted input",
        "levels": f"local[{s_lo}]->local[{s_hi}]",
        f"streaming_e2e_turns_per_sec_local{cpus}": 188888,
        "pair_rows": 20_480_000,
        "streaming_e2e_efficiency_median_pair": 0.944,
        "streaming_e2e_efficiency_best_pair": 0.999,
        f"streaming_e2e_pinned_local{s_lo}": 131072,
        f"streaming_e2e_pinned_local{s_hi}": 489999,
        "n_stream_pairs": 3,
        "streaming_marginal_eff": 0.926,
        "normalize_efficiency_median_pair": 0.861,
        "normalize_efficiency_best_pair": 0.999,
        f"normalize_turns_per_sec_local{s_lo}": 262144,
        f"normalize_turns_per_sec_local{s_hi}": 988888,
        "hardware_cpu_scaling_ceiling": 0.675,
        "stream_eff_vs_hw_ceiling": 1.0,
        "scaling_error": "x" * 160,  # worst case: an error AND full keys
    }


def _worst_case_qtimes():
    q = {name: 99.99 for name in bench.HEADLINE}
    assert len(q) >= 20  # the real suite; keep the test honest
    return q


def test_compact_line_fits_driver_window():
    s = bench._compact_result(_worst_case_qtimes(), 0.1, _full_scaling_dict())
    assert len(s) < bench.COMPACT_LIMIT, len(s)
    parsed = json.loads(s)
    assert parsed["unit"] == "sec"
    assert "streaming_e2e_efficiency_median_pair" in parsed["scaling"]


def test_compact_line_single_line_and_parseable():
    s = bench._compact_result(_worst_case_qtimes(), 0.1, _full_scaling_dict())
    assert "\n" not in s
    json.loads(s)


def test_compact_degrades_rather_than_overflows():
    # even with an absurd suite (200 long-named queries), the line must
    # stay inside the window by degrading the per-query map
    q = {f"very_long_query_name_number_{i:04d}": 123.456 for i in range(200)}
    s = bench._compact_result(q, 0.1, _full_scaling_dict())
    assert len(s) < bench.COMPACT_LIMIT, len(s)
    parsed = json.loads(s)
    assert parsed["queries"].get("n_queries") == 200


def test_compact_limit_counts_bytes_not_characters():
    # a multibyte exception text in scaling_error must not push the
    # line's UTF-8 size past the window while its character count fits
    scaling = _full_scaling_dict()
    scaling["scaling_error"] = ("RuntimeError: échec — 失败 " * 20)[:160]
    s = bench._compact_result(_worst_case_qtimes(), 0.1, scaling)
    assert len(s.encode("utf-8")) < bench.COMPACT_LIMIT
    assert json.loads(s)["scaling"]["scaling_error"] == scaling["scaling_error"]


def test_budget_default_inside_driver_timeout():
    # the r4 driver run was killed at its own timeout (rc 124); keep the
    # default bench budget comfortably under 30 minutes
    assert bench.BUDGET_S <= 1500


class _FakePdf:
    """Minimal stand-in for the bench input frame."""

    class _ILoc:
        def __getitem__(self, s):
            return _FakePdf()

    iloc = _ILoc()

    def __len__(self):
        return 1_280_000


def _patch_runners(monkeypatch, emitted):
    # fake runners: cores-proportional rates, instant return — the
    # tests exercise the BUDGET CONTROL FLOW, not Spark
    timeouts = []

    def streaming_run(pdf, cores, pin=False, n_rows=None, timeout=1800):
        timeouts.append(timeout)
        return (50_000.0 * cores / 4,
                {"marginal_rows_per_sec": 60_000.0 * cores / 4})

    def scaling_run_rows(rows, cores, reps=1, timeout=1800):
        timeouts.append(timeout)
        return 80_000.0 * cores / 4

    monkeypatch.setattr(bench, "streaming_run", streaming_run)
    monkeypatch.setattr(bench, "scaling_run_rows", scaling_run_rows)
    monkeypatch.setattr(bench, "_bench_input", lambda n: (_FakePdf(), "/tmp/x"))
    monkeypatch.setattr(bench, "_cpu_scaling_ceiling", lambda lo, hi, pdf: 0.9)
    monkeypatch.setattr(bench, "pandas_stage_scaling",
                        lambda pdf, a, b: {a: 100_000.0, b: 300_000.0})
    monkeypatch.setattr(
        bench, "_emit",
        lambda q, s, sc, d: emitted.append(
            bench._compact_result(q, s, dict(sc))))
    return timeouts


def test_run_scaling_skips_when_budget_exhausted(monkeypatch):
    import time as _t
    emitted = []
    _patch_runners(monkeypatch, emitted)
    scaling, detail = {}, {}
    bench._run_scaling(scaling, detail, {"q": 1.0}, 0.1, _FakePdf(),
                       1_280_000, deadline=_t.time() + 60)
    assert "skipped" in scaling.get("note", "")
    assert "streaming_e2e_efficiency_median_pair" not in scaling


def test_run_scaling_full_budget_populates_headline(monkeypatch):
    import time as _t
    emitted = []
    _patch_runners(monkeypatch, emitted)
    scaling, detail = {}, {}
    bench._run_scaling(scaling, detail, {"q": 1.0}, 0.1, _FakePdf(),
                       1_280_000, deadline=_t.time() + 100_000)
    # all headline scalars present
    assert scaling["streaming_e2e_efficiency_median_pair"] == 1.0
    assert scaling["n_stream_pairs"] == 3
    assert scaling["normalize_efficiency_median_pair"] == 1.0
    assert scaling["hardware_cpu_scaling_ceiling"] == 0.9
    assert detail["pandas_pool"]
    # pair input clamped to [1x, 16x] base rows
    assert 1_280_000 <= scaling["pair_rows"] <= 16 * 1_280_000
    # every intermediate emission stayed inside the driver window
    assert emitted and all(len(s) < bench.COMPACT_LIMIT for s in emitted)


def test_run_scaling_never_divides_by_hardcoded_four(monkeypatch):
    """r4 advice: on a small box min(4*lo, CPUS) < 4*lo — efficiency
    must use the ACTUAL hi/lo ratio (here 2x on a fake 2-core box)."""
    import time as _t
    emitted = []
    _patch_runners(monkeypatch, emitted)
    monkeypatch.setattr(bench, "CPUS", 2)
    scaling, detail = {}, {}
    bench._run_scaling(scaling, detail, {"q": 1.0}, 0.1, _FakePdf(),
                       1_280_000, deadline=_t.time() + 100_000)
    # lo=1, hi=2: rates are cores-proportional, so the TRUE ratio-based
    # efficiency is exactly 1.0; a hard-coded /4 would read 0.5
    assert scaling["levels"] == "local[1]->local[2]"
    assert scaling["streaming_e2e_efficiency_median_pair"] == 1.0


def test_run_scaling_guards_first_pair_and_caps_timeouts(monkeypatch):
    """Calibration fits the budget but no streaming pair does: the first
    pair is skipped with a note, and no level subprocess may run longer
    than the budget left."""
    import time as _t
    emitted = []
    timeouts = _patch_runners(monkeypatch, emitted)
    monkeypatch.setattr(bench, "CPUS", 4)
    scaling, detail = {}, {}
    budget = 200
    bench._run_scaling(scaling, detail, {"q": 1.0}, 0.1, _FakePdf(),
                       1_280_000, deadline=_t.time() + budget)
    assert "streaming_e2e_efficiency_median_pair" not in scaling
    assert "pairs skipped" in scaling["note"]
    assert timeouts and all(t <= budget for t in timeouts)
