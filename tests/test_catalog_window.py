"""The external driver's correctness gate checks only the FIRST 50
entries of ``queries()``. These tests pin the catalog's explicit window
ordering: every SURVEY.md §2 operator tag must have hash-checkable
evidence inside the window, and the window must stay exactly at the
driver's size."""

from __future__ import annotations

import pytest

from ariadne_cartograph_spark.plans.catalog import (
    DRIVER_WINDOW,
    REGISTRY,
    WINDOW_ORDER,
    get_oracles,
    get_queries,
)


def test_window_is_exactly_driver_sized():
    names = list(get_queries())
    assert len(WINDOW_ORDER) == DRIVER_WINDOW
    assert names[:DRIVER_WINDOW] == WINDOW_ORDER


def test_every_operator_tag_covered_inside_window():
    get_queries()
    window = set(WINDOW_ORDER)
    win_tags, all_tags = set(), set()
    for name, e in REGISTRY.items():
        (win_tags if name in window else all_tags).update(e.tags)
        all_tags.update(e.tags)
    assert all_tags - win_tags == set(), (
        f"operator tags with no in-window evidence: {sorted(all_tags - win_tags)}"
    )


def test_window_entries_are_oracled():
    """Inside the window, every entry must carry a DuckDB oracle —
    a rows-only entry wastes the slot's evidence value."""
    oracles = get_oracles()
    missing = [n for n in WINDOW_ORDER if n not in oracles]
    assert missing == [], f"window entries without oracle: {missing}"


@pytest.mark.parametrize(
    "window",
    [WINDOW_ORDER],
    ids=["live"],
)
def test_prestaged_windows_hold_all_invariants(window):
    """The window holds every invariant at once: driver-sized, no
    dupes, every entry registered + oracled, every operator tag
    covered."""
    get_queries()
    assert len(window) == DRIVER_WINDOW
    assert len(set(window)) == len(window)
    missing = [n for n in window if n not in REGISTRY]
    assert missing == [], f"unregistered: {missing}"
    assert [n for n in window if REGISTRY[n].oracle is None] == []
    all_tags, win_tags = set(), set()
    for name, e in REGISTRY.items():
        all_tags.update(e.tags)
        if name in set(window):
            win_tags.update(e.tags)
    assert all_tags - win_tags == set()
