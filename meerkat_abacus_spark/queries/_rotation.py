"""Driver-window rotation policy (VERDICT r6 ask #8, hardened r10).

The driver's correctness gate snapshots the FIRST ``WINDOW`` registry
entries each round, so which queries sit at the head decides whose
driver-certified evidence stays fresh.  Rounds 1-6 curated that ordering
by hand; this module GENERATES it from data instead:

- ``cert_history.json`` (regenerated by ``tools/gen_rotation.py`` from the
  repo-root ``CORRECTNESS_r*.json`` artifacts) records, per query, the last
  round in which the driver certified it green;
- the window is filled **stale-first**: queries whose evidence would fall
  outside ``MAX_STALENESS`` after this round (including never-certified
  new queries, round 0) are MANDATORY window members and always win slots
  over everything else;
- ``WATCH`` promotes queries whose IMPLEMENTATION changed this round into
  the window regardless of staleness — touched code gets re-certified the
  same round it changes.  WATCH is **round-scoped** (VERDICT r9 ask #1):
  a stale WATCH list from a previous round is inert, so it can never
  steal slots from queries that MUST recertify this round.

Invariants (unit-tested in tests/test_rotation.py, and enforced loudly at
queries-package import via :func:`validate_window` — an oversubscribed
plan raises at generation/import time instead of failing a test later):

- after the current round's window is certified, every registered query
  has been driver-certified within the last ``MAX_STALENESS`` rounds;
- the registry stays within the lifetime budget
  ``WINDOW * MAX_STALENESS - REGISTRY_MARGIN`` (VERDICT r9 ask #2): every
  registered query permanently consumes recurring window slots, so growth
  is a budgeted decision, not an accident.
"""

from __future__ import annotations

import json
import os

WINDOW = 50

# "Certified within the last k rounds": after round R certifies the window,
# every query's last certification must be >= R - MAX_STALENESS + 1.
MAX_STALENESS = 3

# Lifetime registry budget (VERDICT r9 ask #2).  A 50-slot window with a
# 3-round staleness bound can sustain at most 150 queries with ZERO slack
# for WATCH re-certification; the margin reserves slots for touched-code
# WATCH entries every round.  Growing past the budget requires retiring
# or consolidating existing queries first.
REGISTRY_MARGIN = 10
REGISTRY_BUDGET = WINDOW * MAX_STALENESS - REGISTRY_MARGIN

# Queries whose implementation changed in round ``round`` — promoted into
# the window so the changed code is driver-re-certified the same round.
# Round-scoped: entries are IGNORED once the current round moves past
# ``round`` (the r9 failure mode was a hardcoded already-fresh WATCH list
# occupying slots that 45 must-recertify queries needed).
#
# r16 WATCH (implementation touched this round — re-certify same round;
# exactly 11 = the window's free slots, and every non-ANN entry is
# r14-CERTIFIED on purpose: the optimization round touched many query
# families, and promoting touched r14-cohort queries displaces the
# stale-first fill one-for-one from the SAME r14 cohort, so changed
# code gets driver-certified this round at zero cost to the r17
# forward budget — see below):
# - ann_lsh_auto: the (since deleted) isin/join dispatcher decided the
#   small-index regime BEFORE probing (VERDICT r15 ask #2 — past its
#   probe cap it forced isin, so the capped probe job was dead work),
#   the same rule overrode caller hints (ADVICE r15 #1-#2), and
#   `n_queries="index"` spelled the large-regime hint (ask #6).
# - ann_lsh_indexed: `_index_success_fp` is now (st_mtime_ns, st_ino) —
#   the recreated-marker inode catches mtime-preserving rewrites
#   (ADVICE r15 #4) — and `_lsh_index_frames` and the row-count memo skip
#   LRU insertion when the fingerprint is None (ADVICE r15 #3:
#   unmatchable entries used to occupy slots and evict live ones).
#   Represents the changed LSH reader/fingerprint functions per the
#   one-query-per-changed-function budget; siblings on the same path
#   (ann_lsh_dpp, incremental_lsh_equals_batch) are own-compare green
#   this round (tools/compare.py sf0.01, round-16 session).
# - ann_ivf_indexed: `_ivf_index_frame` got the identical
#   fp-None-skip change.
# - links_ordered (r14): add_links collect="extrema" rewrite + native
#   timestamp sort keys (OPTIMIZATION_r16 §10/§2).
# - dedup_exact (r14): window-min keeper ids replacing groupBy +
#   join-back (§12).
# - dedup_clusters (r14): star-CC window rewrite, 6→3 exchanges per
#   round (§1); also re-exercises the band-key path after the §6
#   integer-key narrowing was REVERTED late in the round (strings
#   again — see dd.lsh_band_keys' representation note).
# - dedup_simhash (r14): single-pass per-bit aggregate + bit_count
#   hamming (§9).
# - alert_threshold_weekly (r14): alert window chains emitted as SQL
#   strings (§13; also exercises the epi-aligned weekly branch).
# - epiweek_dict_config (r14): epi_week_sql twin, dict-config branch
#   (§14).
# - coding_multiple_link (r14): coding rules compiled to SQL strings,
#   multiple_link branch (§11).
# - streaming_interval_join (r14): scale-derived stream state
#   partitions (§5; the largest streaming A/B delta, 0.64×).
# Touched r15-certified siblings on the same code paths (e.g.
# dedup_minhash_lsh for band keys, alert_threshold/alert_double_double
# for the SQL chains, flagship/pipeline_composed for the coding
# compiler, the other six streaming queries) are own-compare green this
# round (tools/compare.py sf0.01 137/137, round-16 session) and stay
# inside MAX_STALENESS without a slot.
#
# Forward budget (recomputed at r16 from cert_history as_of_round=15):
# r16 has 39 mandatory + 11 WATCH = 50 exactly; the 8 non-ANN WATCH
# entries are all r14-certified, so r17's mandatory set stays at the
# same ~40 the stale-first fill would have produced (10 free slots at
# r17, ≥5 spare as VERDICT r15 ask #1 requires) — verified by
# tests/test_rotation.py::test_next_round_plan_remains_satisfiable.
# r17 WATCH (implementation touched this round — re-certify same
# round).  Touched-and-already-mandatory at r17 (last certified r14,
# stale-first fill picks them anyway, no slot needed): ann_lsh_topk
# (by-id serving restructure), streaming_alerts_equals_batch (single
# heartbeat restart), dedup_keep_best (star-CC consumer).  The entries
# below are the touched queries whose certification is FRESH (r15/r16)
# and would otherwise not be re-certified this round:
# - dedup_minhash_lsh / dedup_clusters / incremental_dedup_equals_batch
#   / fuzzy_decontaminate: integer band keys RE-ADOPTED (r17
#   adjudication; engine + oracle twin + _v8 store bump).
# - ann_lsh_indexed / incremental_lsh_equals_batch: the by-id probe's
#   driver-side dedupe + 1-slice probe broadcast (same serving path as
#   ann_lsh_topk).
# - flagship_cases_region_epiweek: compiled-rule pre-filter leads the
#   scan filter.
WATCH: dict = {
    "round": 17,
    "names": (
        "dedup_minhash_lsh",
        "dedup_clusters",
        "incremental_dedup_equals_batch",
        "fuzzy_decontaminate",
        "ann_lsh_indexed",
        "incremental_lsh_equals_batch",
        "flagship_cases_region_epiweek",
    ),
}

_HERE = os.path.dirname(__file__)
COMMITTED_SNAPSHOT = os.path.join(_HERE, "cert_history.json")
# Regenerated by conftest/verify_all when newer driver artifacts exist;
# gitignored so automated test runs never dirty tracked files (ADVICE r9
# #4).  ``python tools/gen_rotation.py`` promotes it into the committed
# snapshot at round start.
RUNTIME_SNAPSHOT = os.path.join(_HERE, "_cert_history_runtime.json")


class RotationOversubscribedError(RuntimeError):
    """The round's mandatory recertifications + WATCH exceed the window."""


def load_committed_history() -> dict:
    """The committed certification snapshot: ``{"as_of_round": N,
    "last_certified": {query: round}}``."""
    with open(COMMITTED_SNAPSHOT) as f:
        return json.load(f)


def load_history() -> dict:
    """The freshest available snapshot: the gitignored runtime regeneration
    when it covers a NEWER round than the committed file (round boundary,
    before the builder promotes it), else the committed snapshot."""
    hist = load_committed_history()
    try:
        with open(RUNTIME_SNAPSHOT) as f:
            runtime = json.load(f)
        if runtime.get("as_of_round", 0) > hist.get("as_of_round", 0):
            return runtime
    except (OSError, json.JSONDecodeError):
        pass
    return hist


def active_watch(current_round: int, watch=None) -> tuple[str, ...]:
    """WATCH names for ``current_round`` — a list recorded for an earlier
    round is spent (its entries were certified that round) and is inert."""
    if watch is None:
        watch = WATCH
    if isinstance(watch, dict):
        if watch.get("round") == current_round:
            return tuple(watch.get("names", ()))
        return ()
    return tuple(watch)  # legacy tuple form: always active


def plan_window(
    names,
    last_certified: dict[str, int],
    as_of_round: int | None = None,
    watch=None,
    window: int = WINDOW,
    max_staleness: int = MAX_STALENESS,
) -> dict:
    """The round's window plan: which queries MUST be in the window
    (evidence would exceed ``max_staleness`` otherwise, including
    never-certified new queries), which are WATCH promotions, and whether
    the plan fits.  Pure data — :func:`build_priority` orders from it and
    :func:`validate_window` raises from it."""
    names = list(names)
    if as_of_round is None:
        as_of_round = max(
            (last_certified.get(n, 0) for n in names), default=0
        )
    current = as_of_round + 1
    floor = current - max_staleness + 1

    def key(n: str):
        return (last_certified.get(n, 0), n)

    must = sorted(
        (n for n in names if last_certified.get(n, 0) < floor), key=key
    )
    watch_names = active_watch(current, watch)
    watch_in = sorted(
        (n for n in names if n in watch_names and n not in must), key=key
    )
    rest = sorted(
        (n for n in names if n not in must and n not in set(watch_in)),
        key=key,
    )
    return {
        "current_round": current,
        "must": must,
        "watch": watch_in,
        "rest": rest,
        "window": window,
        "overflow": max(0, len(must) + len(watch_in) - window),
    }


def validate_window(names, hist: dict, watch=None, window: int = WINDOW) -> None:
    """Raise :class:`RotationOversubscribedError` when the plan cannot
    satisfy the staleness invariant — called at queries-package import and
    from tools/gen_rotation.py, so an oversubscribed round fails at
    GENERATION time with the arithmetic spelled out, not in a test later
    (VERDICT r9 ask #1)."""
    names = list(names)  # a one-shot iterator must not bypass the checks
    plan = plan_window(
        names, hist["last_certified"], hist.get("as_of_round"), watch, window
    )
    if plan["overflow"]:
        raise RotationOversubscribedError(
            f"round {plan['current_round']} window oversubscribed: "
            f"{len(plan['must'])} queries MUST recertify (evidence older "
            f"than {MAX_STALENESS - 1} rounds or never certified) + "
            f"{len(plan['watch'])} WATCH promotions = "
            f"{len(plan['must']) + len(plan['watch'])} > window "
            f"{plan['window']}.  Retire/merge queries or trim WATCH "
            f"({plan['watch']}) before certifying this round."
        )
    n = len(names)
    if n > REGISTRY_BUDGET:
        raise RotationOversubscribedError(
            f"registry has {n} queries > lifetime budget {REGISTRY_BUDGET} "
            f"(= WINDOW {WINDOW} x MAX_STALENESS {MAX_STALENESS} - margin "
            f"{REGISTRY_MARGIN}).  Consolidate queries before adding more "
            f"(VERDICT r9 ask #2)."
        )


def build_priority(
    names,
    last_certified: dict[str, int],
    watch=None,
    window: int = WINDOW,
    as_of_round: int | None = None,
) -> list[str]:
    """Deterministic registry ordering: mandatory recertifications first
    (never-certified queries lead — they sort at round 0), then this
    round's WATCH promotions, then everything else stalest-first.  Stale
    queries always win window slots over WATCH entries that are merely
    touched-but-fresh (the r9 inversion)."""
    plan = plan_window(
        names, last_certified, as_of_round, watch, window
    )
    return plan["must"] + plan["watch"] + plan["rest"]
