"""Driver-window bookkeeping invariants.

_DRIVER_VERIFIED must equal the union of hash_match=true entries across
the committed CORRECTNESS_r*.json files — deriving it in a test makes
hand-maintenance drift fail loudly (an entry wrongly listed as verified
would otherwise sit outside the driver window indefinitely)."""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _derived_green_union(repo: str = REPO) -> set[str]:
    # r10 lesson: the original glob was CORRECTNESS_r0*.json, which
    # silently stopped matching at the two-digit round rollover
    # (CORRECTNESS_r10.json) and blinded the rotation tripwire — the
    # pattern must survive any round number.
    union: set[str] = set()
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        d = json.load(open(f))
        union.update(k for k, v in d.items() if v.get("hash_match") is True)
    return union


def test_green_union_sees_two_digit_rounds(tmp_path):
    """Regression for the r10 tripwire blindness: a correctness file
    with a TWO-digit round number must contribute to the derived green
    union (the old CORRECTNESS_r0*.json glob matched r01-r09 only, so
    the rotate-me alarm could never fire again after r9)."""
    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({"old_entry": {"hash_match": True}})
    )
    (tmp_path / "CORRECTNESS_r11.json").write_text(
        json.dumps(
            {
                "new_entry": {"hash_match": True},
                "red_entry": {"hash_match": False},
            }
        )
    )
    got = _derived_green_union(str(tmp_path))
    assert got == {"old_entry", "new_entry"}


def test_driver_verified_matches_correctness_files():
    """Every name in _DRIVER_VERIFIED must be backed by a hash_match=true
    row in some committed CORRECTNESS file (no false 'verified' claims,
    which would park an unverified entry outside the window forever).
    The derived union MAY be larger — the driver writes a new round's
    results before the constant is refolded; fold them in next edit."""
    from gofast_spark.plans.catalog import _DRIVER_VERIFIED

    derived = _derived_green_union()
    assert derived, "no CORRECTNESS_r*.json files found"
    unbacked = _DRIVER_VERIFIED - derived
    assert not unbacked, f"_DRIVER_VERIFIED claims never-green: {sorted(unbacked)}"


def test_every_entry_is_oracle_backed():
    from gofast_spark.plans.catalog import ORACLE_SQL, QUERIES

    assert list(ORACLE_SQL) == list(QUERIES)


def test_never_green_entries_lead_the_window():
    """No window slot is wasted on an already-verified entry, and any
    never-green entries that overflow the 50-slot window queue
    contiguously right after it (first in line for the next rotation)."""
    from gofast_spark.plans.catalog import QUERIES

    derived = _derived_green_union()
    names = list(QUERIES)
    window = names[:50]
    never = [n for n in names if n not in derived]
    overflow = [n for n in never if n not in window]
    # A green entry in the window is a WASTED slot only when it displaces
    # a never-green entry (overflow non-empty).  When never-green entries
    # are fewer than 50, green fillers in the remaining slots are
    # unavoidable (the driver always checks positions 0-49) and harmless
    # re-verification.
    wasted = [n for n in window if n in derived]
    if overflow:
        assert not wasted, (
            f"window slots spent on already-green entries while never-green "
            f"entries are stranded: wasted={wasted} stranded={overflow}"
        )
    # never-green entries must lead the window: no green filler may sit
    # before a never-green entry
    first_green = next((i for i, n in enumerate(window) if n in derived), 50)
    late_never = [n for n in window[first_green:] if n not in derived]
    assert not late_never, (
        f"never-green entries sit behind green fillers in the window: {late_never}"
    )
    # overflow entries must occupy positions 50..50+len(overflow) so the
    # driver's next rotation picks them up first
    assert names[50 : 50 + len(overflow)] == overflow, (
        f"stranded never-green entries not queued after window: {overflow}"
    )


def _green_history(repo: str = REPO) -> dict[str, int]:
    import re

    last: dict[str, int] = {}
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", f).group(1))
        for k, v in json.load(open(f)).items():
            if isinstance(v, dict) and v.get("hash_match") is True:
                last[k] = max(last.get(k, 0), rnd)
    return last


def test_window_matches_derived_policy():
    """r12 verdict ask #2: the rotation policy is a tested invariant.

    The catalog ordering must equal the pure policy function applied to
    (registration order, green history) — i.e. never-green entries lead
    in registration order, remaining window slots go to the stalest
    driver-green entries by (last-green round ASC, name ASC), and
    never-green overflow queues contiguously after the window.  Because
    the ordering is DERIVED at import from the CORRECTNESS artifacts,
    the old by-design start-of-round stale-window alarm can no longer
    fire: a new CORRECTNESS file rotates the window when it lands."""
    from gofast_spark.plans.catalog import (
        _catalog_order,
        _REGISTRATION_ORDER,
        QUERIES,
    )

    assert sorted(_REGISTRATION_ORDER) == sorted(QUERIES)
    expected = _catalog_order(list(_REGISTRATION_ORDER), _green_history())
    assert list(QUERIES) == expected


def test_reverify_slots_are_stalest_greens():
    """Any window slot not consumed by a never-green entry must hold the
    stalest driver-green entries, ordered (last-green round ASC, name
    ASC) — the zero-queue steady-state rotation: ~50 re-proofs per round
    cycles all ~508 green entries every ~11 rounds."""
    from gofast_spark.plans.catalog import QUERIES

    last = _green_history()
    names = list(QUERIES)
    window = names[:50]
    fillers = [n for n in window if n in last]
    eligible = sorted((n for n in names if n in last), key=lambda n: (last[n], n))
    assert fillers == eligible[: len(fillers)]


def test_zero_queue_policy_pure():
    """Degenerate case the derived policy must handle before it happens
    live: every checkable entry already green.  The window becomes pure
    re-verification — the 50 stalest greens by (round, name) — and the
    rest of the ordering queues by the same key so the driver's window
    walks the whole catalog round-robin."""
    from gofast_spark.plans.catalog import _catalog_order

    names = [f"e{i:03d}" for i in range(120)]
    last = {n: 1 + (i % 3) for i, n in enumerate(names)}  # rounds 1..3
    order = _catalog_order(names, last)
    expected = sorted(names, key=lambda n: (last[n], n))
    assert order == expected
    # and with a never-green entry mixed in
    last2 = dict(last)
    del last2["e007"]  # never green -> must lead
    order2 = _catalog_order(names, last2)
    assert order2[0] == "e007"
    rest = [n for n in names if n != "e007"]
    assert order2[1:] == sorted(rest, key=lambda n: (last2[n], n))


def test_green_history_fails_loudly(tmp_path):
    """A corrupted CORRECTNESS artifact must raise (silently skipping it
    would reclassify its greens as never-green and reorder the driver
    window); an artifact-free directory warns and falls back to
    registration order instead of crashing library imports."""
    import warnings

    import pytest

    from gofast_spark.plans.catalog import _driver_green_history

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _driver_green_history(str(tmp_path)) == {}
        assert any("no CORRECTNESS" in str(x.message) for x in w)
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    with pytest.raises(RuntimeError, match="CORRECTNESS_r01.json"):
        _driver_green_history(str(tmp_path))


def test_catalog_order_properties():
    """Property test over the pure ordering policy: for random
    registration orders and green histories, the derived order must
    satisfy every invariant the driver contract depends on — a
    permutation of the input, never-green entries leading in
    registration order, window fillers = stalest greens by (round,
    name), never-green overflow contiguous after the window."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gofast_spark.plans.catalog import _catalog_order

    @settings(max_examples=200, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(min_value=0, max_value=120))
        names = [f"e{i:03d}" for i in range(n)]
        greens = {
            m: data.draw(st.integers(min_value=1, max_value=9))
            for m in names
            if data.draw(st.booleans())
        }
        w = data.draw(st.integers(min_value=1, max_value=60))
        order = _catalog_order(names, greens)
        assert sorted(order) == sorted(names)  # permutation
        never = [m for m in names if m not in greens]
        reverify = sorted(
            (m for m in names if m in greens), key=lambda m: (greens[m], m)
        )
        expect_head = (never + reverify)[:w]
        assert order[: len(expect_head)] == expect_head
        overflow = [m for m in never if m not in expect_head]
        assert order[len(expect_head) : len(expect_head) + len(overflow)] == overflow

    run()


def test_duplicate_registration_raises():
    """The query() decorator must refuse a name that is already
    registered — a silent dict overwrite shadowed the driver-verified
    ece_orders entry in r11 until a count audit caught it."""
    import pytest

    from gofast_spark.plans.catalog import query

    with pytest.raises(ValueError, match="duplicate catalog entry"):

        @query("flagship_revenue_by_region", oracle="SELECT 1")
        def _clash(spark, sf_dir):  # pragma: no cover
            raise AssertionError
