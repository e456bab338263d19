"""The 1e-6 grid, Catalyst form: the one place a Column is snapped.

Every double that a DuckDB oracle replays is first put on the 1e-6 grid
with ``floor(x * 1e6 + 0.5) / 1e6``: one IEEE multiply, add and floor,
which both engines perform identically, ties rounding toward +inf for
signed values too. ``micro6`` is the floor alone, the integer
micro-units that exact (long or decimal) sums run on before one final
division. ``kernel/vecmath.py`` holds the numpy form of both for the
kernels and the grouped maps; ``tests/test_vecmath.py`` fails on the
expression spelled anywhere else in ``yatsm_spark/``.

``F.round(x, 6)`` is a different rule, not a spelling of this one: HALF_UP
on the decimal expansion of the double, which the oracles replay with
DuckDB's ``round``. A site keeps the rule its oracle replays.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def micro6(col: Column) -> Column:
    """``floor(col * 1e6 + 0.5)``: ``col`` in integer micro-units (bigint)."""
    return F.floor(col * 1e6 + 0.5)


def snap6(col: Column) -> Column:
    """``floor(col * 1e6 + 0.5) / 1e6``: ``col`` on the 1e-6 grid (double)."""
    return micro6(col) / 1e6
