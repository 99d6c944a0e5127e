"""Bench artifact parseability (VERDICT r11 ask #1).

The driver records a FIXED-SIZE TAIL of bench stdout (~2215 chars
observed in round 11) and parses a JSON line out of it; r11's
single detailed line outgrew the window and the round's suite totals
became machine-unreadable (``"parsed": null``).  bench.py now prints a
compact totals-only line LAST — these tests pipe the exact two-line
stdout through a simulated tail window and parse it the way a
tail-capturing driver would, so the format can't silently regress.

No Spark session needed: the artifact lines are pure functions of the
timing dicts.
"""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The raw capture window: round 11's recorded "tail" field held 2215
# chars of payload.  Simulate slightly tighter to keep margin honest.
TAIL_WINDOW = 2048


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_mod_artifact", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fake_detailed(bench) -> dict:
    """A detailed artifact shaped exactly like main()'s, with the REAL
    headline names (so the compact line's size reflects the shipping
    query set) and a full 21-sentinel vector."""
    timings = {
        name: {
            "cold": 1.234,
            "warm": 0.987,
            "cal": 0.0449,
            "warm_norm": 1.001,
        }
        for name in bench.HEADLINE
    }
    n_sent = len(bench.HEADLINE) + 1
    return {
        "metric": "headline_suite_total",
        "value": 11.853,
        "value_cold": 28.614,
        "value_normalized": 12.001,
        "unit": "sec",
        "queries": timings,
        "index_build_sec": {"lsh_index_lifecycle": 17.512},
        "sf": 0.1,
        "runs_per_query": 3,
        "calibration": {
            "pre": 0.0441,
            "post": 0.0448,
            "ref": 0.0445,
            "spread": 1.05,
            "sentinels": [0.0441 + i * 1e-4 for i in range(n_sent)],
        },
    }


def _stdout_lines(bench, detailed: dict) -> str:
    """Render stdout exactly as main() prints it: detailed line, then
    the compact line last."""
    return (
        json.dumps(detailed) + "\n" + json.dumps(
            bench.compact_artifact(detailed)
        ) + "\n"
    )


def _driver_parse(tail: str):
    """How a tail-capturing driver recovers the artifact: the LAST
    JSON-loadable line inside the window."""
    parsed = None
    for line in tail.splitlines():
        try:
            candidate = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(candidate, dict):
            parsed = candidate
    return parsed


def test_compact_line_survives_tail_window():
    bench = _bench()
    detailed = _fake_detailed(bench)
    stdout = _stdout_lines(bench, detailed)
    # Precondition that motivated the fix: the detailed line alone does
    # NOT fit the window (if it ever shrinks below it, the compact line
    # is redundant but still harmless).
    tail = stdout[-TAIL_WINDOW:]
    parsed = _driver_parse(tail)
    assert parsed is not None, "no JSON line survived the tail window"
    assert parsed["metric"] == "headline_suite_total"
    for key in ("value", "value_cold", "value_normalized", "sf"):
        assert key in parsed, key
    # per-query map: every headline query, warm seconds as a number
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert all(
        isinstance(v, (int, float)) for v in parsed["queries"].values()
    )
    assert parsed["index_build_sec"] == {"lsh_index_lifecycle": 17.512}


def test_compact_line_within_budget_with_margin():
    bench = _bench()
    line = json.dumps(bench.compact_artifact(_fake_detailed(bench)))
    # Enough slack under the simulated window that one more query or a
    # longer name doesn't break capture between rounds.
    assert len(line) <= bench._COMPACT_BUDGET
    assert bench._COMPACT_BUDGET <= TAIL_WINDOW - 100


def test_compact_budget_guard_trips_on_growth():
    bench = _bench()
    detailed = _fake_detailed(bench)
    for i in range(60):  # a runaway headline set must fail LOUDLY
        detailed["queries"][f"some_future_query_with_a_long_name_{i}"] = {
            "cold": 1.0, "warm": 1.0, "cal": 0.05, "warm_norm": 1.0
        }
    try:
        bench.compact_artifact(detailed)
    except ValueError as e:
        assert "tail capture" in str(e)
    else:
        raise AssertionError("oversized compact line did not raise")


def _verify_all():
    spec = importlib.util.spec_from_file_location(
        "verify_all_mod", os.path.join(ROOT, "tools", "verify_all.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_verify_consumes_compare_json_summary():
    """tools/verify_all.py parses compare.py's final JSON summary line
    (VERDICT r11 ask #7) instead of scraping the OK/FAIL text."""
    va = _verify_all()
    registry = ["q1", "q2", "q3", "q4"]
    stdout = (
        "OK    q1: 10 rows match (0.1s spark)\n"
        "FAIL  q2: value hash mismatch (3 rows)\n"
        "SKIP  q3: no oracle (rows=5, 0.1s)\n"
        "OK    q4: 2 rows match (0.1s spark)\n"
        + json.dumps(
            {
                "summary": "compare",
                "sf_dir": "/x",
                "total": 4,
                "ok": 2,
                "skip": 1,
                "failures": ["q2"],
                "skipped": ["q3"],
            }
        )
        + "\n"
    )
    out = va.parse_compare_output(stdout, "", registry)
    assert out["source"] == "json_summary"
    assert out["ok"] == 2 and out["skip"] == 1
    assert out["failures"] == ["q2"]
    assert out["missing"] == []


def test_verify_compare_fallback_scrape_on_crash():
    """A compare run that dies before its summary line still yields a
    named report via the scrape fallback."""
    va = _verify_all()
    registry = ["q1", "q2", "q3"]
    stdout = (
        "OK    q1: 10 rows match (0.1s spark)\n"
        "FAIL  q2: spark error: Py4JJavaError: boom\n"
        "Traceback (most recent call last):\n  ...\n"
    )
    out = va.parse_compare_output(stdout, "", registry)
    assert out["source"] == "scrape_fallback"
    assert out["ok"] == 1
    assert out["failures"] == ["q2"]
    assert out["missing"] == ["q3"]


def test_verify_compare_detects_unreached():
    """A truncated sweep (summary present but short) reports unreached
    registry entries instead of silently passing."""
    va = _verify_all()
    registry = [f"q{i}" for i in range(10)]
    stdout = json.dumps(
        {
            "summary": "compare",
            "sf_dir": "/x",
            "total": 4,
            "ok": 4,
            "skip": 0,
            "failures": [],
            "skipped": [],
        }
    )
    out = va.parse_compare_output(stdout, "", registry)
    assert out["missing"] == ["<6 unreached>"]


def test_contention_banner_fires_on_contended_sentinels():
    """VERDICT r13 ask #8: a synthetic contended sentinel list (spread
    3.1 > 2) must produce the explicit CONTENDED banner naming the
    spread and the A/B remedy; a quiet list must stay silent, and the
    banner must never be a JSON-loadable line (it would shadow the
    compact artifact in a tail-parsing driver)."""
    bench = _bench()
    contended = [0.05, 0.052, 0.155, 0.051, 0.05]
    banner = bench.contention_banner(contended)
    assert banner is not None
    assert "CONTENDED" in banner
    assert "3.10" in banner  # quotes the spread
    assert "A/B" in banner
    try:
        json.loads(banner)
        raise AssertionError("banner must not parse as JSON")
    except json.JSONDecodeError:
        pass
    # quiet host: ~1.0-1.5 spread stays silent
    assert bench.contention_banner([0.05, 0.052, 0.06, 0.051]) is None
    # degenerate inputs: no judgement possible, no banner
    assert bench.contention_banner([]) is None
    assert bench.contention_banner([0.05]) is None
    assert bench.contention_banner([0.0, 0.0]) is None
    # boundary: exactly the limit is NOT contended
    assert bench.contention_banner([1.0, 2.0]) is None


def test_totals_consistent_between_lines():
    """The compact line is a projection of the detailed one — totals and
    per-query warms must agree exactly (no recomputation drift)."""
    bench = _bench()
    detailed = _fake_detailed(bench)
    compact = bench.compact_artifact(detailed)
    assert compact["value"] == detailed["value"]
    assert compact["value_cold"] == detailed["value_cold"]
    assert compact["value_normalized"] == detailed["value_normalized"]
    for name, t in detailed["queries"].items():
        assert compact["queries"][name] == t["warm"]


def test_codegen_scan_catches_janino_fallbacks():
    """VERDICT r14 ask #4: the verify harness must fail loudly on janino
    codegen errors that do NOT fail queries (Spark logs ERROR and runs
    interpreted).  Pins the scan used by both tools/ansi_sim.py and
    tools/verify_all.py's ansi leg."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"),
    )
    from ansi_sim import scan_codegen_errors

    log = (
        "26/08/16 12:00:00 WARN SomeOtherThing: benign\n"
        "26/08/16 12:00:01 ERROR CodeGenerator: failed to compile: "
        "org.codehaus.janino.InternalCompilerException: Compiling "
        '"GeneratedClass": Code of method grows beyond 64 KB\n'
        "OK    ann_lsh_multiprobe (1.2s)\n"
    )
    hits = scan_codegen_errors(log)
    assert len(hits) == 1 and "CodeGenerator" in hits[0]
    assert scan_codegen_errors("all queries ANSI-clean\n") == []
    # each marker fires independently (reformatted log layouts)
    assert scan_codegen_errors("x InternalCompilerException y")
    assert scan_codegen_errors("... grows beyond 64 KB ...")
