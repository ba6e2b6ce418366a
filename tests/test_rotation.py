"""Rotation-ledger integrity (VERDICT r6 ask #8): the driver surface and
the structured history in plans/rotation.py must agree with the
committed CORRECTNESS_r{N}.json evidence — every driver=True entry is
either historically driver-green or a declared first-timer this round,
no stale names survive in the ledger, and the surface stays at exactly
SURFACE_SIZE entries."""

from __future__ import annotations

import glob
import json
import os

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    queries as Q,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    rotation as R,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _row_green(row) -> bool:
    return bool(
        isinstance(row, dict)
        and row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


def _driver_green() -> set[str]:
    """Names with at least one PASSING committed driver row. A failed
    row (hash/rows/schema false or err set — e.g. qa_wilson_ci r7) must
    not let an entry be demoted as if verified (ADVICE r7)."""
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        for name, row in json.load(open(path)).items():
            if _row_green(row):
                seen.add(name)
    return seen


def _driver_checked() -> set[str]:
    """Names that have ANY committed driver row, pass or fail — the raw
    'has been on the surface' semantics the first-timer/queue checks
    need (a failed attempt still used up the entry's first-timer slot)."""
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        seen.update(json.load(open(path)))
    return seen


def test_surface_is_exactly_surface_size():
    surface = {n for n, q in Q.REGISTRY.items() if q.driver}
    assert len(surface) == R.SURFACE_SIZE


def test_every_ledger_name_is_registered():
    """History may name RETIRED (deleted) entries; the forward-looking
    queues may not."""
    names = set(Q.REGISTRY)
    assert not R.RETIRED & names, R.RETIRED & names
    for rnd, swap in R.ROTATION_HISTORY.items():
        for key in ("in", "out"):
            missing = set(swap[key]) - names - R.RETIRED
            assert not missing, (rnd, key, missing)
    assert not set(R.NEXT_QUEUE) - names
    assert not set(R.REFRESH_QUEUE) - names


def test_driver_entries_are_green_or_declared_first_timers():
    """The ask's exact contract: every driver=True entry either has a
    CORRECTNESS row in some committed round or is listed as a
    first-timer ('in') for CURRENT_ROUND."""
    surface = {n for n, q in Q.REGISTRY.items() if q.driver}
    green = _driver_green()
    first_timers = set(R.ROTATION_HISTORY[R.CURRENT_ROUND]["in"])
    unexplained = surface - green - first_timers
    assert not unexplained, unexplained


def test_first_timers_are_actually_new_and_in_surface():
    """Promotions must be genuine first-timers (no prior driver row at
    promotion time — rows from CURRENT_ROUND onward are the rotation
    paying off, not a violation) and must be driver=True now."""
    surface = {n for n, q in Q.REGISTRY.items() if q.driver}
    for rnd, swap in R.ROTATION_HISTORY.items():
        prior: set[str] = set()
        for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
            n = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
            if n < rnd:
                prior.update(json.load(open(path)))
        stale = {
            n
            for n in set(swap["in"]) & prior
            if R.RE_PROMOTED.get(n) != rnd
        }
        assert not stale, (rnd, stale)
    assert set(R.ROTATION_HISTORY[R.CURRENT_ROUND]["in"]) <= surface
    assert not set(R.ROTATION_HISTORY[R.CURRENT_ROUND]["out"]) & surface


def test_next_queue_is_never_driver_checked():
    checked = _driver_checked()
    current_in = set(R.ROTATION_HISTORY[R.CURRENT_ROUND]["in"])
    stale = set(R.NEXT_QUEUE) & (checked | current_in)
    assert not stale, stale


def test_refresh_queue_is_age_ordered_and_green():
    """Steady-state freshness policy (r9, VERDICT r8 ask #4): the
    refresh queue holds only entries with a committed GREEN driver row
    (re-earning freshness is its point — first-timers belong in
    NEXT_QUEUE), none currently on the surface, ordered by oldest
    most-recent-green-row first (ties by name)."""
    assert not set(R.REFRESH_QUEUE) - set(Q.REGISTRY)
    surface = {n for n, q in Q.REGISTRY.items() if q.driver}
    assert not set(R.REFRESH_QUEUE) & surface
    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        for name, row in json.load(open(path)).items():
            if _row_green(row):
                last_green[name] = max(last_green.get(name, 0), rnd)
    missing = [n for n in R.REFRESH_QUEUE if n not in last_green]
    assert not missing, missing
    keys = [(last_green[n], n) for n in R.REFRESH_QUEUE]
    assert keys == sorted(keys), "refresh queue must be age-ordered"


def test_survey_2_11_inventory_matches_registry():
    """SURVEY.md §2.11 is the judge's coverage ground truth; its
    backticked inventory names must be exactly REGISTRY.keys() (VERDICT
    r7 ask #5 — the table had drifted 2 entries behind the registry).
    Same pattern as the NLQ ROUTES ∪ NO_ROUTE == REGISTRY partition."""
    import re

    text = open(os.path.join(REPO, "SURVEY.md")).read()
    start = text.index("### 2.11")
    section = text[start:text.index("###", start + 10)]
    table_names = set(re.findall(r"\| `([a-z0-9_]+)`", section))
    registry = set(Q.REGISTRY)
    assert table_names - registry == set(), table_names - registry
    assert registry - table_names == set(), registry - table_names


def test_rotation_md_mentions_current_round():
    text = open(os.path.join(REPO, "ROTATION.md")).read()
    assert f"| {R.CURRENT_ROUND} |" in text
    for name in R.ROTATION_HISTORY[R.CURRENT_ROUND]["in"]:
        assert name in text, name


def test_keep_set_capped_and_on_surface():
    """Keep-set cap policy (r13; VERDICT r11 ask #8 / r12 ask #6): the
    keep-set is an explicit pinned tuple, capped at KEEP_SET_CAP so
    refresh throughput cannot quietly degrade, every member is on the
    current surface (it re-earns a row every round — that is its
    definition), every member is registered, no duplicates, and members
    are scale/state-dependent shapes (st_*/wh_* harnesses plus the
    a24 plan-shape claim)."""
    keep = R.KEEP_SET
    assert len(keep) == len(set(keep)), "duplicate keep-set member"
    assert len(keep) <= R.KEEP_SET_CAP, (len(keep), R.KEEP_SET_CAP)
    assert not set(keep) - set(Q.REGISTRY), set(keep) - set(Q.REGISTRY)
    surface = {n for n, q in Q.REGISTRY.items() if q.driver}
    off_surface = set(keep) - surface
    assert not off_surface, off_surface
    for name in keep:
        assert name.startswith(("st_", "wh_")) or name == (
            "a24_revenue_gini_scale_safe"
        ), name
    # The surface decomposes exactly: first-timers + keep-set + refresh
    # (refresh = surface members that are neither — they must all come
    # from the refresh pool, i.e. hold a prior green row; the
    # green-or-first-timer test above already pins that).
    first = set(R.ROTATION_HISTORY[R.CURRENT_ROUND]["in"])
    # A first-timer may sit in the keep-set ONLY if the admissions
    # ledger declares it admitted THIS round (the r14
    # wh_ivfpq256_publish case: it takes its family's seat the same
    # round it earns its first row — cap policy, plans/rotation.py).
    admitted_now = {
        n for n, rnd in R.KEEP_SET_ADMISSIONS.items()
        if rnd == R.CURRENT_ROUND
    }
    assert not (first & set(keep)) - admitted_now, (
        (first & set(keep)) - admitted_now
    )
    assert admitted_now <= set(keep), admitted_now - set(keep)
