"""Registration-order contract: the driver's CORRECTNESS snapshot only
records the first DRIVER_WINDOW (50) registered queries, so every
oracle-gated query must land inside that window or it silently loses
its hard-signal check (this is exactly what cost 12 queries their
driver rows in round 1)."""

from __future__ import annotations

from archetype_spark.queries import (
    _DEFERRED,
    _PINNED,
    DRIVER_WINDOW,
    all_oracles,
    all_queries,
)


def test_every_oracle_gated_query_is_inside_driver_window():
    """_DEFERRED names are the sanctioned escape hatch (rotation when
    the oracle-gated count exceeds the window) — exempt, per ADVICE r2."""
    names = list(all_queries())
    oracles = set(all_oracles())
    outside = [
        n for n in names[DRIVER_WINDOW:] if n in oracles and n not in _DEFERRED
    ]
    assert outside == [], (
        f"oracle-gated queries registered outside the driver's "
        f"{DRIVER_WINDOW}-entry CORRECTNESS window: {outside}"
    )


def test_deferred_names_are_oracle_gated_and_real():
    """Deferral only makes sense for oracle-gated queries; a stale name
    here would silently shrink the window's occupancy. Checked against
    the full oracle set: with the live-index gate, index-backed
    oracles vanish on a checkout without a built sf0.01 index, which
    says nothing about whether the deferred names are real."""
    oracles = set(all_oracles(require_live_index=False))
    assert _DEFERRED <= oracles, _DEFERRED - oracles
    n_oracled = len(set(all_queries()) & oracles)
    assert n_oracled - len(_DEFERRED) <= DRIVER_WINDOW


def test_window_is_not_wasted_on_rows_only_queries():
    """A rows-only query may hold a window slot ONLY via _PINNED — the
    r4 rotation deliberately spends one slot on q61 so the driver
    records its (weaker) rows-only check at least once; anything else
    rows-only in the head is a wasted hard-signal slot."""
    names = list(all_queries())
    oracles = set(all_oracles())
    n_oracled = len([n for n in names if n in oracles])
    head = names[: min(DRIVER_WINDOW, n_oracled)]
    wasted = [n for n in head if n not in oracles and n not in _PINNED]
    assert wasted == [], (
        f"rows-only queries occupy checked slots ahead of oracle-gated "
        f"ones: {wasted}"
    )


def test_pinned_queries_lead_the_window():
    names = list(all_queries())
    assert names[: len(_PINNED)] == list(_PINNED)
    assert set(_PINNED).isdisjoint(_DEFERRED)


def test_every_oracle_has_a_query():
    missing = set(all_oracles()) - set(all_queries())
    assert missing == set()
