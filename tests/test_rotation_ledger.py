"""ROTATION.md's ledger pins the frozen query registry.

Each query's decorator states its registry (``@query`` for a driver
slot, ``@twin_query`` for a pytest-checked twin); the registry was
frozen at the round-12 membership. The ledger table is the committed
membership list: every registered query has a row, every row names a
registered query, the slot column matches the decorator, and every
query carries its oracle. The remaining checks keep the ledger's
verification history honest: each query has a driver-verified round,
a row-identity pin to a driver-verified sibling, or a queue marker,
and no driver row is older than the horizon.
"""

from __future__ import annotations

import re
from pathlib import Path

from bigdata_commerce_spark.plans import ORACLES, QUERIES, TWIN_ORACLES, TWIN_QUERIES

LEDGER = Path(__file__).resolve().parent.parent / "ROTATION.md"
_ROW = re.compile(r"^\| `([^`]+)` \| ([^|]+) \| ([^|]+) \|$")


def _parse_ledger() -> dict[str, tuple[str, str]]:
    rows: dict[str, tuple[str, str]] = {}
    for line in LEDGER.read_text().splitlines():
        m = _ROW.match(line)
        if m and m.group(1) != "query":
            rows[m.group(1)] = (m.group(2).strip(), m.group(3).strip())
    return rows


def test_every_query_is_in_the_ledger():
    rows = _parse_ledger()
    missing = sorted((set(QUERIES) | set(TWIN_QUERIES)) - set(rows))
    assert not missing, f"registry queries absent from ROTATION.md ledger: {missing}"


def test_every_ledger_row_is_registered():
    rows = _parse_ledger()
    stale = sorted(set(rows) - (set(QUERIES) | set(TWIN_QUERIES)))
    assert not stale, f"ROTATION.md ledger rows naming no registered query: {stale}"


def test_every_query_has_an_oracle():
    assert set(ORACLES) == set(QUERIES)
    assert set(TWIN_ORACLES) == set(TWIN_QUERIES)


def test_ledger_slots_match_registry():
    """The ledger's slot column must mirror the registry — a decorator
    flip without a ledger update (or vice versa) fails."""
    rows = _parse_ledger()
    wrong = sorted(
        name
        for name, (slot, _) in rows.items()
        if name in QUERIES or name in TWIN_QUERIES
        if slot.startswith("driver") != (name in QUERIES)
    )
    assert not wrong, f"ledger slot disagrees with registry: {wrong}"


def test_every_query_has_a_driver_row_or_pin():
    """The closed ledger: a green driver round, a pending ``rN*``
    slot, a ``pinned == sibling`` row-identity pin, or an explicit
    ``queued (rN)`` marker for a freshly-added query awaiting the
    next rotation — nothing may have none of the four. A queue marker
    is only honest for the NEXT round, so the maintenance rotation
    cannot park queries in the queue forever without the slot column
    (checked by test_ledger_slots_match_registry) going stale."""
    rows = _parse_ledger()
    unverified = []
    for name in sorted(set(QUERIES) | set(TWIN_QUERIES)):
        slot, rounds = rows.get(name, ("", ""))
        has_round = bool(re.search(r"\br\d+\*?", rounds))
        pinned = rounds.startswith("pinned ==")
        queued = bool(re.fullmatch(r"queued \(r\d+\)", rounds))
        if not (has_round or pinned or queued):
            unverified.append(name)
    assert not unverified, (
        f"queries with no driver row, no pending slot, no pin, and no "
        f"queue marker: {unverified}"
    )


def _horizon_stale(rows: dict[str, tuple[str, str]], names) -> list[str]:
    """Names whose NEWEST driver row is more than 4 rounds behind the
    current round: the newest driver row anywhere in the ledger,
    pending ``rN*`` slots included. Pinned rows ride their target's
    verification and ``queued (rN)`` rows are brand-new twins awaiting
    their first slot: both are skipped, and a queue marker's round is
    not a driver row, so it does not move the current round."""
    driver = {
        name: [int(n) for n in re.findall(r"\br(\d+)\*?", rounds)]
        for name, (_, rounds) in rows.items()
        if not rounds.startswith("pinned ==")
        and not re.fullmatch(r"queued \(r\d+\)", rounds)
    }
    current = max(n for found in driver.values() for n in found)
    return [
        f"{name} (newest driver row r{max(driver[name])}, current r{current})"
        for name in sorted(names)
        if driver.get(name) and max(driver[name]) < current - 4
    ]


def test_ledger_horizon():
    """VERDICT r9 item 7: the informal "~3 rounds without a re-check"
    promise, made structural — no oracle-paired query's newest driver
    row may be older than 4 rounds behind the current round
    (``_horizon_stale``). Pinned rows are checked by
    test_pins_point_at_driver_verified_queries."""
    stale = _horizon_stale(_parse_ledger(), set(QUERIES) | set(TWIN_QUERIES))
    assert not stale, f"ledger horizon exceeded (>4 rounds without a driver row): {stale}"


def test_ledger_horizon_ignores_queue_markers():
    """A twin queued one round past the newest driver row does not
    move the current round: r9-newest rows stay inside the horizon of
    r13, and only a row older than r9 is stale."""
    rows = {
        "newest": ("driver", "r12*, r13"),
        "old_a": ("twin", "r6, r9"),
        "old_b": ("twin", "r9"),
        "too_old": ("twin", "r5, r8"),
        "pinned": ("twin", "pinned == newest"),
        "fresh": ("twin", "queued (r14)"),
    }
    assert _horizon_stale(rows, rows) == [
        "too_old (newest driver row r8, current r13)"
    ]


def test_pins_point_at_driver_verified_queries():
    rows = _parse_ledger()
    for name, (_, rounds) in rows.items():
        if not rounds.startswith("pinned =="):
            continue
        target = rounds.removeprefix("pinned ==").strip().split()[0]
        if target not in rows:
            # prose pin (e.g. "exact sessionize (session_stats anchor)")
            # — the parenthesized anchor must exist and be verified
            m = re.search(r"\(([a-z0-9_]+) anchor\)", rounds)
            assert m and m.group(1) in rows, (
                f"pin target of {name!r} not found in ledger: {rounds!r}"
            )
            target = m.group(1)
        t_rounds = rows[target][1]
        assert re.search(r"\br\d+\*?", t_rounds), (
            f"{name!r} pins to {target!r}, which has no driver row itself"
        )
