"""Cross-engine bit-exact numeric aggregation.

Floating-point sums depend on summation order, so a Spark double sum
and a DuckDB double sum differ in the low bits — and ``round()`` on
doubles is itself engine-divergent on half-boundary cases (Spark
rounds the shortest decimal repr via BigDecimal, DuckDB the binary
value). The engine therefore aggregates measure columns through exact
DECIMAL arithmetic:

    per-row double expr (bit-identical everywhere)
      -> cast decimal(30,10)   (exact, deterministic)
      -> SUM                   (exact decimal addition, order-free)
      -> round to 4 dp         (exact decimal rounding, same rule both engines)
      -> cast double           (scaled int < 2^53 -> correctly-rounded cast)

The final round matters: casting a scale-10 decimal to double is NOT
correctly rounded in every engine (the scaled int128 exceeds 2^53);
at scale 4 the scaled value is exact in a double, so the cast is a
single IEEE division — identical bits everywhere. Valid while
|sum| < 2^53 / 1e4 ≈ 9e11, far above any measure in this schema.

Besides oracle parity this buys run-to-run reproducibility at scale:
partial-aggregation order is never stable across 1000 executors, but
decimal addition is associative-exact, so results don't drift.

``*_sql`` helpers mirror the same computation in DuckDB for oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,10)"
RSCALE = 4


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact sum of a double column, as double."""
    return F.round(F.sum(_c(col).cast(DEC)), RSCALE).cast("double")


def davg(col: Column | str) -> Column:
    """Exact-sum average: identical double bits in every engine."""
    c = _c(col)
    return F.round(F.sum(c.cast(DEC)), RSCALE).cast("double") / F.count(c)


def dsum_over(col: Column | str, window) -> Column:
    return F.round(F.sum(_c(col).cast(DEC)).over(window), RSCALE).cast("double")


def dsum_sql(expr: str) -> str:
    """DuckDB oracle text for ``dsum``."""
    return f"round(sum(({expr})::DECIMAL(30,10)), {RSCALE})::DOUBLE"


def davg_sql(expr: str) -> str:
    return f"round(sum(({expr})::DECIMAL(30,10)), {RSCALE})::DOUBLE / count({expr})"


def dsum_over_sql(expr: str, over: str) -> str:
    """DuckDB oracle text for ``dsum_over``; ``over`` is the OVER (...) body."""
    return f"round(sum(({expr})::DECIMAL(30,10)) OVER ({over}), {RSCALE})::DOUBLE"


# ---------------------------------------------------------------------
# Grid snapping — engine-identical decimal quantization of doubles.
#
# '%.7f' string formatting is NOT engine-identical on boundary inputs:
# Java's Formatter rounds the SHORTEST-REPR digits (half-up), DuckDB's
# fmt rounds the EXACT binary expansion (half-even), so a double whose
# shortest repr ends exactly on the half-grid formats differently
# (probability ~7e-8 per value — the r12 sf1 gate caught 2 flips in
# the flagship's 29M formatted lon/lats). floor(x*1e7 + 0.5)/1e7 is
# pure IEEE arithmetic — multiply, add, floor, divide are all
# correctly-rounded in every engine — so the snapped double is
# bit-identical everywhere, and once ON the grid a subsequent '%.7f'
# format is 5e-8 from any rounding boundary in BOTH formatters.
# Valid while |x|*1e7 < 2^52 (|x| < 4.5e8; lon/lat/ln-scores are far
# inside). Snap BEFORE any '%.7f' format or use the snapped double
# directly in place of the format->parse quantizer recipe.
#
# SCOPE (r12 adjudication): q7 fully fixes sites whose formatted value
# is PURE ARITHMETIC on bit-identical inputs (the flagship lon/lats —
# deterministic polynomial trig upstream). The ln/log2/pow quantizer
# sites are different: their INPUT already wobbles ~1 ulp across
# engines (libm), so any rounding — format or floor-snap — straddles
# its boundary with the same ~wobble/grid probability; the '%.7f'
# format-quantize recipe remains their best available absorber and
# stays, with its documented tolerances. Those sites also format only
# a handful of values per query (entropy/PMI/score grids), putting
# their per-round flip exposure orders below the flagship's 29M
# formatted values. A deterministic polynomial ln (the psin/pcos
# treatment applied to log) would retire the class completely; left
# as the known follow-up.
Q7 = 1.0e7


def q7(col: Column | str) -> Column:
    """Quantize a double column to the 1e-7 grid, engine-identically."""
    return F.floor(_c(col) * F.lit(Q7) + F.lit(0.5)) / F.lit(Q7)


def q7_sql(expr: str) -> str:
    """DuckDB mirror of :func:`q7` — token-for-token op order."""
    return f"(floor(({expr}) * 10000000.0 + 0.5) / 10000000.0)"


def fmt7(col: Column | str) -> Column:
    """q7-snap then render with exactly 7 decimals — byte-identical to
    ``format_string('%.7f', q7(col))`` but ~5x cheaper (r15 flagship
    tail: java.util.Formatter allocates a locale-aware formatter per
    value; the decimal cast is a codegen setScale + toPlainString).

    Why the strings are equal for every finite |x| < 1e11: the q7
    output is the correctly-rounded double nearest k/1e7, i.e. within
    ~1e-13 of the grid point — 5e-8 away from either HALF_UP decision
    boundary at scale 7 — so the Formatter path (exact binary
    expansion, HALF_UP to 7 places) and the decimal-cast path
    (shortest-repr BigDecimal, setScale(7, HALF_UP)) both land on k;
    decimal(18,7).toPlainString keeps the same trailing zeros, and q7
    never emits -0.0 (floor output -0.0 is impossible for any input
    that snaps to 0). Swept 80M structured grid/ulp-neighbour/random
    values with zero byte diffs (OPTIMIZATION_r15.md) and pinned by
    tests/test_value_parity.py::test_fmt7_matches_format_string; the
    oracle side keeps printf('%.7f', ...) untouched.

    Scope: fmt7 is legal only where the q7 snap is (the SCOPE note
    above: pure arithmetic on bit-identical inputs, such as the
    flagship lon/lats), never at the ln/log2/pow quantizer sites,
    which keep the '%.7f' format recipe.
    """
    return q7(col).cast("decimal(18,7)").cast("string")
