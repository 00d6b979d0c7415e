"""Forward simulation of the driver-verification rotation: each round
the driver records a row for the first ``BUDGET`` names of
``registry._order``."""

from __future__ import annotations

from etl_dados_ibge_sp_spark.registry import STALE_BOUND, _order

BUDGET = 50  # CORRECTNESS rows the driver records per round


def simulate(names: list[str], last_green: dict[str, int],
             arrivals: dict[int, list[str]], start: int,
             rounds: int) -> tuple[dict[str, int], int]:
    """Run ``rounds`` rounds from round ``start``; ``arrivals`` maps a
    round to the names first registered in it.  Returns the round each
    name was first verified in, and the longest gap any verified query
    went without re-verification."""
    names, last_green = list(names), dict(last_green)
    first_green: dict[str, int] = {}
    max_gap = 0
    for cur in range(start, start + rounds):
        names += arrivals.get(cur, [])
        assert len(names) <= STALE_BOUND * BUDGET, \
            "registry outgrew the rotation capacity N <= bound*budget"
        checked = _order(names, last_green, cur)[:BUDGET]
        for n in names:
            g = last_green.get(n)
            if g is not None and n not in checked:
                max_gap = max(max_gap, cur - g)
        for n in checked:
            last_green[n] = cur
            first_green.setdefault(n, cur)
    return first_green, max_gap
