"""Rotation bookkeeping must be driven by the committed CORRECTNESS_r0N
files, not memory (VERDICT r3 finding #3: r3's rotation comment called
four `err: no_oracle` rows "r1-green").  This test recomputes the union
of driver-green rows from the ROUNDS the current _PRIORITY_50 window
was derived from — a PINNED list, not a glob: VERDICT r4 finding #2
showed that globbing CORRECTNESS_r0*.json makes the round's own
success (the driver landing the new round file) fail the invariant.
The window encodes "no slot was wasted when the window was BUILT"."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The rounds the current window was derived from.  A later round file
# produced by the driver AFTER this window shipped must not change the
# derivation — pin, don't glob.
ROUNDS_SEEN = ("r01", "r02", "r03", "r04", "r05")


def _last_green_round():
    """Query name -> the latest ROUNDS_SEEN round with a green row."""
    last = {}
    for r in ROUNDS_SEEN:
        path = os.path.join(REPO, f"CORRECTNESS_{r}.json")
        rows = json.load(open(path))
        for name, v in rows.items():
            if v.get("err"):
                continue
            if (v.get("rows_match") and v.get("schema_match")
                    and v.get("hash_match") is True):
                last[name] = r
    return last


def test_priority_window_size():
    assert len(entrymod._PRIORITY_50) == 50
    assert len(set(entrymod._PRIORITY_50)) == 50


def test_priority_entries_exist():
    q = set(entrymod.queries())
    missing = [n for n in entrymod._PRIORITY_50 if n not in q]
    assert not missing, missing
    o = set(entrymod.oracle_sql())
    no_oracle = [n for n in entrymod._PRIORITY_50 if n not in o]
    assert not no_oracle, no_oracle


def test_every_never_green_query_has_a_slot():
    """r5 policy (VERDICT r4 item 3): the window must seat EVERY query
    that has never had a green driver row, so cumulative coverage can
    close at the full registry this round."""
    greens = set(_last_green_round())
    q = set(entrymod.queries())
    never_green = q - greens
    unseated = sorted(never_green - set(entrymod._PRIORITY_50))
    assert not unseated, f"never-driver-green queries without a slot: {unseated}"


def test_registry_fully_covered_after_this_window():
    """Window ∪ prior greens must span the whole registry — nothing is
    deferred past r5."""
    greens = set(_last_green_round())
    q = set(entrymod.queries())
    uncovered = sorted(q - greens - set(entrymod._PRIORITY_50))
    assert not uncovered, uncovered


def test_reconfirm_slots_are_previously_green():
    """Every slot not spent on a never-green query is a deliberate
    re-confirmation of an already-proven query (not a typo'd name that
    silently burns a slot)."""
    greens = set(_last_green_round())
    q = set(entrymod.queries())
    never_green = q - greens
    reconfirm = [n for n in entrymod._PRIORITY_50 if n not in never_green]
    stray = sorted(set(reconfirm) - greens)
    assert not stray, f"re-confirm slots that were never green: {stray}"


def test_window_holds_the_least_recently_confirmed():
    """Staleness policy: no query outside the window was last confirmed
    green before a query inside it, so each round re-checks the queries
    whose evidence is oldest."""
    last = _last_green_round()
    q = set(entrymod.queries())
    window = set(entrymod._PRIORITY_50)
    newest_in = max(last.get(n, "") for n in window)
    older_outside = sorted(
        n for n in q - window if last.get(n, "") < newest_in
    )
    assert not older_outside, (newest_in, older_outside)
