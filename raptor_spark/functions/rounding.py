"""Engine-portable round-to-6-decimals for QUOTIENT-valued doubles.

Library ``round()`` differs across engines on half boundaries: Spark
rounds the double's shortest-decimal representation HALF_UP
(BigDecimal), DuckDB rounds the scaled double — caught live by the
exact oracle gate (`type_avg_6h` at sf0.1 differed in the 6th
decimal). ``floor(x·1e6 + 0.5)/1e6`` is the identical double-op
sequence in both engines, so bit-equal inputs give bit-equal outputs.

Use it wherever the unrounded value can sit ON a half boundary — any
division (averages, ratios, cosines). Values that already have ≤ 6
true decimal digits (DECIMAL(18,2) sums cast to double, scale-4
revenue products) round identically under every implementation and
keep plain ``round``.

Negative values round half-toward-+inf here (floor-based), not
half-away-from-zero — fine for the engine's quotient columns, which
are all non-negative or symmetric-noise cosines where the SQL twin
does the same thing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def round6(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def sql_round6(expr: str) -> str:
    """The DuckDB/ANSI twin of ``round6`` — same op order."""
    return f"floor(({expr}) * 1000000 + 0.5) / 1000000"


def py_round6(x: float) -> float:
    """The plain-Python twin of ``round6`` for driver-local replays —
    same op order, IEEE binary64 like the JVM."""
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0
