"""One-shot evidence harness: full-registry oracle compare + pytest + an
ANSI driver simulation + the README count check, collapsed into one JSON
report.

Runs, in order:

1. ``tools/compare.py`` over the ENTIRE registry at sf0.01,
2. ``pytest tests/ -q``,
3. an ANSI driver simulation: every registered query executed at sf0.001
   on a session with ``spark.sql.ansi.enabled=true`` — a caller that owns
   its SparkSession gets Spark 4's default ANSI ON, so this catches
   ANSI-unsafe expressions our own session factory would mask,
4. ``tools/gen_readme_counts.py``: the README's generated counts must
   match the registry.

Usage::

    python tools/verify_all.py [--out REPORT.json]

Exit status is non-zero if any leg failed, so the tool doubles as a CI
gate.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LINE_RE = re.compile(r"(OK|FAIL|ERR|SKIP)\s+([a-z0-9_]+):")


def parse_compare_output(stdout: str, stderr: str, registry) -> dict:
    """Fold compare.py's output into the report row.

    Primary path (VERDICT r11 ask #7): the final machine-readable JSON
    summary line compare.py now prints.  Fallback (compare crashed before
    its summary): scrape the per-query OK/FAIL/SKIP lines so the report
    still names what did run.  Pure function — unit-tested in
    tests/test_bench_artifact.py alongside the bench two-line format."""
    import json as _json

    registry = set(registry)
    lines = stdout.strip().splitlines()
    if lines:  # only the LAST line may be the summary
        try:
            cand = _json.loads(lines[-1])
        except ValueError:
            cand = None
        if isinstance(cand, dict) and cand.get("summary") == "compare":
            # ok-by-name isn't in the summary; a sweep whose reached
            # count (ok + failed + skipped) covers the registry left
            # nothing out.
            reached = cand["ok"] + len(cand["failures"]) + cand["skip"]
            missing = (
                [] if reached >= len(registry)
                else [f"<{len(registry) - reached} unreached>"]
            )
            return {
                "total": len(registry),
                "ok": cand["ok"],
                "skip": cand["skip"],
                "failures": sorted(cand["failures"]),
                "missing": missing,
                "source": "json_summary",
            }
    statuses = dict()
    for status, name in LINE_RE.findall(stdout + stderr):
        statuses[name] = status
    return {
        "total": len(registry),
        "ok": sum(1 for s in statuses.values() if s == "OK"),
        "skip": sum(1 for s in statuses.values() if s == "SKIP"),
        "failures": sorted(
            n for n, s in statuses.items() if s in ("FAIL", "ERR")
        ),
        "missing": sorted(registry - set(statuses)),
        "source": "scrape_fallback",
    }


def run_compare(sf_dir: str) -> dict:
    from meerkat_abacus_spark.queries import QUERIES

    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "tools/compare.py", sf_dir],
        cwd=REPO, capture_output=True, text=True, timeout=3600,
    )
    out = parse_compare_output(proc.stdout, proc.stderr, QUERIES)
    out["sf_dir"] = sf_dir
    out["sec"] = round(time.time() - t0, 1)
    return out


def run_pytest() -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "-q"],
        cwd=REPO, capture_output=True, text=True, timeout=3600,
    )
    tail = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    m = re.search(r"(\d+) passed", tail)
    f = re.search(r"(\d+) failed", tail)
    return {
        "passed": int(m.group(1)) if m else 0,
        "failed": int(f.group(1)) if f else (0 if proc.returncode == 0 else -1),
        "summary": tail,
        "sec": round(time.time() - t0, 1),
    }


ANSI_SIM = """
import json, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.ansi.enabled", "true")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
import __spark_entry__ as E
assert E.entry(spark).count() > 0
bad = []
for name, fn in E.queries().items():
    try:
        fn(spark, "/root/testdata/sf0.001").count()
    except Exception as ex:
        bad.append([name, str(ex)[:200]])
print("ANSI_RESULT " + json.dumps(bad))
"""


def run_ansi_sim() -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-c", ANSI_SIM],
        cwd=REPO, capture_output=True, text=True, timeout=3600,
    )
    failures = None
    for line in proc.stdout.splitlines():
        if line.startswith("ANSI_RESULT "):
            failures = json.loads(line[len("ANSI_RESULT "):])
    # Standing codegen gate (VERDICT r14 ask #4): janino compile failures
    # do NOT fail queries — Spark logs an ERROR and silently falls back
    # to interpreted execution (~10x slower on the r14 probe-fan-out
    # incident).  Scan the captured session log; ANY hit fails the gate
    # even when every query returned rows.  tools/ansi_sim.py applies the
    # same markers for standalone runs.
    if os.path.join(REPO, "tools") not in sys.path:
        sys.path.insert(0, os.path.join(REPO, "tools"))
    from ansi_sim import scan_codegen_errors

    codegen_errors = scan_codegen_errors(proc.stdout + "\n" + proc.stderr)
    return {
        "failures": failures if failures is not None else [["harness", "no result line"]],
        "codegen_errors": codegen_errors,
        "sec": round(time.time() - t0, 1),
    }


def run_readme_counts() -> dict:
    """VERDICT r10 ask #4: README's generated counts must match ground
    truth.  Regenerates them in place and reports drift — a drifted README
    fails the gate (and is left corrected for the commit that fixes it)."""
    path = os.path.join(REPO, "README.md")
    before = open(path).read()
    proc = subprocess.run(
        [sys.executable, "tools/gen_readme_counts.py"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    after = open(path).read()
    # fail CLOSED: a crashed generator means the counts were never
    # verified — that must fail the gate, not report "no drift"
    return {
        "drifted": before != after or proc.returncode != 0,
        "generator_rc": proc.returncode,
        "summary": (proc.stdout + proc.stderr).strip()[-500:],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="also write the JSON here")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    report: dict = {
        "compare": run_compare(args.sf_dir),
        "pytest": run_pytest(),
        "ansi_sim": run_ansi_sim(),
        "readme_counts": run_readme_counts(),
    }
    ok = (
        not report["compare"]["failures"]
        and not report["compare"]["missing"]
        and report["pytest"]["failed"] == 0
        and not report["ansi_sim"]["failures"]
        and not report["ansi_sim"]["codegen_errors"]
        and not report["readme_counts"]["drifted"]
    )
    report["green"] = ok
    line = json.dumps(report)
    print(line)
    if args.out:
        with open(os.path.join(REPO, args.out), "w") as fh:
            fh.write(line + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
