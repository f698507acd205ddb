"""Exact money arithmetic on the data's native grids.

The 160× octave (SCALING.md, "the 160× octave") demonstrated that
``round(sum(<money double>), 2)`` over O(fact-table) rows is a latent
cross-engine bug for EVERY such aggregate, not a one-off: float
summation-order noise grows with the sum's magnitude while the 2-dp
rounding boundary stays fixed, so at ~1e11 sums (96M rows) the noise
(~1e-2) reaches the boundary scale and a hash flip becomes a matter of
when, not if — q1 flipped first. Averages and ratios stay safe (their
RELATIVE noise ~1e-14 never nears the 1e-4/1e-6 boundaries), and
small-group sums (per-order, per-customer, dimension-sized) stay safe
by magnitude; the fix is needed exactly where a group aggregates an
unbounded slice of the fact table.

The money columns all live on exact decimal grids (verified ≤ 4e-9
recovery on the fixtures): prices/totalprice/acctbal are integer
cents, discount/tax are integer percents, quantity is integer. So any
money sum can be an INTEGER sum: recover the grid units per row
(``grid_c``), sum exactly — Spark side via the two-BIGINT hi/lo split
in ``exact_sum`` (int128 emulation at codegen speed; exact to
~4.6e12 rows per group, see ``SPLIT``, with the boxed DECIMAL(38,0)
accumulation as the documented fallback past that), DuckDB side via
its native-int128 HUGEINT — and divide back to dollars only at
presentation. Both engines then compute the identical integer, hence
the identical rounded double, at ANY scale inside that envelope.

Oracle-side mirrors (DuckDB SQL):
  sum money       -> CAST(sum(CAST(round(col*100) AS BIGINT)) AS DOUBLE)/100
  sum price*(1-d) -> CAST(sum(CAST(round(p*100) AS BIGINT)
                              * CAST(100 - round(d*100) AS BIGINT)) AS DOUBLE)/10000
  sum price*d     -> ... * CAST(round(d*100) AS BIGINT) ... /10000
  window sums     -> same, with OVER (...) on the integer sum
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,0)"


def grid_c(col: Column | str, scale: int = 100) -> Column:
    """Recover a money/percent column's exact integer grid units."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).cast("bigint")


# hi/lo split base for the two-BIGINT accumulation in exact_sum.
# Chosen near sqrt(2·max-per-row-unit): the largest unit expression in
# the repo is price_c·(100−d)·(100+t) ≤ ~4e11 (1e-6-dollar charge
# units), so |hi| ≤ ~4e5+1 and |lo| < 2·SPLIT = 2e6, balancing the two
# partial-sum overflow bounds at N ≈ 4.6e12 rows PER GROUP (≈ 400 TB of
# lineitem) before either BIGINT sum can overflow.
SPLIT = 1_000_000


def exact_sum(unit_expr: Column, unit: int) -> Column:
    """Exact Σ of an integer-grid expression, presented in dollars.

    Implementation: int128 accumulation EMULATED as two codegen'd
    BIGINT sums. Spark has no native wide-integer fast path — a
    DECIMAL(38,0) sum falls off the Long-backed representation into
    boxed BigDecimal adds, measured ~8 s per column per 384M rows at
    the 640× octave vs ~2 s for a BIGINT sum (DuckDB's HUGEINT is
    native int128, which is why its identical computation ran 3 s).
    So: split each row's units e into hi·SPLIT + lo (hi from a double
    floor-divide — exact or off-by-one near multiples, which the
    bigint-computed lo absorbs, keeping e == hi·SPLIT + lo an exact
    identity either way; per-row |e| ≤ ~4e11 ≪ 2^53 so the double is
    exact), sum hi and lo as plain BIGINT (codegen'd, associative,
    order-free), and reconstruct Σe = Σhi·SPLIT + Σlo in DECIMAL(38,0)
    on the handful of OUTPUT rows only. Bit-identical to the direct
    decimal sum for any N ≤ ~4.6e12 rows per group (the partial-sum
    overflow bound documented at SPLIT); past that, swap this body back
    to ``F.sum(unit_expr.cast(DEC))`` — same values, boxed speed.

    Pair with ``F.round(..., 2)`` exactly as the float version was."""
    e = unit_expr.cast("bigint")
    hi = F.floor(e.cast("double") / SPLIT).cast("bigint")
    lo = e - hi * SPLIT
    total = F.sum(hi).cast(DEC) * SPLIT + F.sum(lo).cast(DEC)
    return total.cast("double") / unit


def exact_revenue_sum(
    price: str = "l_extendedprice", disc: str = "l_discount"
) -> Column:
    """Σ price·(1−discount) on the cents×percent grid (1e-4 units)."""
    return exact_sum(grid_c(price) * (F.lit(100) - grid_c(disc)), 10_000)
