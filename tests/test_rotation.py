"""Rotation-policy invariants (VERDICT r13 asks #1 and #6).

The external driver evaluates the first 50 entries of
``__spark_entry__.queries()`` per round. These tests pin the window
budget mechanically so the guarantees stated in rotation.py's comments
are enforced, not just asserted in prose:

- the prior round's deferrals front the current window (ask #1);
- max staleness (rounds since a query's last driver check) stays <= 6
  across ALL registered queries once the current window lands (ask #6);
- the bookkeeping sets stay consistent with the registry.
"""

from __future__ import annotations

import pytest

from spring_cloud_kafka_streams_dbz_etl_spark.queries import rotation


CURRENT_ROUND = 18
WINDOW = 50
STALENESS_BAR = 6


@pytest.fixture(scope="module")
def registered() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries().keys())


def test_prior_round_deferrals_front_the_window(registered):
    order = rotation.rotation_order(registered)
    fronted = set(order[:WINDOW])
    # The r19 zero tier is exactly CHANGED_SINCE_CHECK (all 45 r18
    # re-fronts went green in CORRECTNESS_r18.json and were cleared, and
    # no never-checked queries remain): the queries whose plan stamp
    # moved when pair_dots_arrow became the one within-cell pair kernel.
    # All of them must front for fresh driver rows.
    for name in sorted(rotation.CHANGED_SINCE_CHECK):
        assert name in fronted, f"{name} must front the r19 window"
        assert name not in rotation.DEFERRED_NEW
    # and the six re-planned pair-kernel consumers specifically are in
    # that tier (regression-pinned by name)
    for name in (
        "q_embedding_cosine_dup", "q_triangle_count", "q_knn_graph",
        "q_knn_hubness", "q_knn_graph_ivf", "q_knn_mutual",
    ):
        assert name in rotation.CHANGED_SINCE_CHECK, name


def test_never_checked_queries_front(registered):
    order = rotation.rotation_order(registered)
    never = [
        n
        for n in registered
        if rotation.times_checked(n) == 0 and n not in rotation.DEFERRED_NEW
    ]
    fronted = set(order[: max(WINDOW, len(never))])
    missing = [n for n in never if n not in fronted]
    assert not missing, f"never-checked queries missing from window: {missing}"


def test_max_staleness_bounded(registered):
    """Every registered query is driver-checked within STALENESS_BAR
    rounds: once the current window lands (its members' last_checked
    becomes CURRENT_ROUND), no query's last check is older than
    CURRENT_ROUND - STALENESS_BAR."""
    order = rotation.rotation_order(registered)
    window = set(order[:WINDOW])
    worst = min(
        CURRENT_ROUND if n in window else rotation.last_checked(n)
        for n in registered
    )
    staleness = CURRENT_ROUND - worst
    assert staleness <= STALENESS_BAR, (
        f"max staleness {staleness} rounds exceeds the <= {STALENESS_BAR} "
        f"bar; stalest queries outside the window: "
        f"{sorted((rotation.last_checked(n), n) for n in registered if n not in window)[:5]}"
    )


def test_steady_state_staleness_bound_holds(registered):
    """The structural bound: window size x bar must cover the registry,
    otherwise least-recently-first cannot keep every query fresh.
    N <= WINDOW * STALENESS_BAR makes the full least-recently-first
    cycle ceil(N/WINDOW) <= STALENESS_BAR rounds, so every query
    re-fronts within the bar. (r14 crossed 250 registered: the cycle is
    now 6 rounds — AT the bar, no longer under it; the next 50
    registrations are free before the window must grow.)"""
    assert len(registered) <= WINDOW * STALENESS_BAR, (
        f"{len(registered)} registered queries no longer fit a "
        f"{WINDOW}-query window within {STALENESS_BAR} rounds; "
        "raise the bar or grow the window"
    )


def test_checked_by_round_names_are_registered(registered):
    known = set(registered)
    for rnd, names in rotation.CHECKED_BY_ROUND.items():
        unknown = names - known
        assert not unknown, f"round {rnd} records unregistered names: {unknown}"


def test_sentinel_sets_are_registered(registered):
    known = set(registered)
    assert rotation.DEFERRED_NEW <= known
    assert rotation.CHANGED_SINCE_CHECK <= known


def test_deferred_new_sorts_behind_everything(registered):
    if not rotation.DEFERRED_NEW:
        pytest.skip("no deferrals this round")
    order = rotation.rotation_order(registered)
    tail = order[-len(rotation.DEFERRED_NEW) :]
    assert set(tail) == set(rotation.DEFERRED_NEW)
