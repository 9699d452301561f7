"""Summary statistics for pass timings: median, quartile spread and the
point where warm passes stop getting faster."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


#: Warm passes have levelled off when the last WINDOW of them did not
#: beat the fastest earlier pass by more than TOL (a share of it).
WINDOW = 2
TOL = 0.03


def levelled_off(passes: list[float]) -> bool:
    """True when passes have stopped getting faster (see ``WINDOW`` and
    ``TOL``). Needs at least ``WINDOW + 1`` passes."""
    if len(passes) <= WINDOW:
        return False
    return min(passes[-WINDOW:]) >= (1.0 - TOL) * min(passes[:-WINDOW])
