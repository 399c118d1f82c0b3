"""Determinism helpers for oracle parity (SURVEY.md §5.4, §7 hard-part 2).

Floating-point SUM/AVG is summation-order-dependent; Spark's partial
aggregation order differs run-to-run and from DuckDB's.  The driver compares
an order-insensitive VALUE HASH, so float aggregates must be bit-identical
on both sides.  Policy:

- **Sums/averages**: cast each addend to DECIMAL(30,10) (a double rounds to
  10 dp identically in both engines), sum exactly (decimal addition is
  associative), cast the total back to double, round(6).  Deterministic
  regardless of partition order or group count.
- **Per-row arithmetic** (+,-,*,/, sqrt): IEEE-exact, identical across
  engines — no rounding needed.
- **libm functions** (pow/log/exp) and multi-pass stats (stddev, regr_*):
  last-ulp may differ between JVM and C++ — round to a coarse grid (4-6 dp)
  and keep group counts small so boundary collisions stay improbable.

Each Spark helper has a ``sql_*`` twin that emits the equivalent DuckDB SQL
fragment, so both sides are generated from one convention.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,10)"
SQL_DEC = "DECIMAL(30,10)"

# Half a DECIMAL(30,10) tick.  Values below this are clamped to exactly 0.0
# on BOTH sides before the decimal cast: DuckDB's VARCHAR→DECIMAL parse
# rounds a sub-tick magnitude like 6.64e-298 AWAY from zero to 1E-10 while
# the JVM's cast yields 0 (fuzz falsifier, tests/test_fuzz_parity.py).  The
# clamp makes the convention explicit and identical — the comparison
# ``ABS(x) < 5e-11`` is one IEEE compare against the same double literal in
# both engines, so there is no boundary disagreement to inherit.
SUB_TICK = 5e-11


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec_cast(col: Column | str) -> Column:
    """double column → DECIMAL(30,10), the Spark twin of :func:`sql_dec_cast`.

    Every oracled float aggregate must route its addends through THIS
    helper (never a bare ``.cast(DEC)``) so the sub-tick clamp convention
    stays in one place on both sides.  NULL passes through (``abs(NULL)``
    is NULL → the WHEN branch is not taken → otherwise(NULL)).

    PER-ADDEND domain: |x| < 2^53 (≈9.0e15).  Above it the two engines
    cast a double to decimal DIFFERENTLY — Spark expands the exact
    binary value while DuckDB's VARCHAR hop parses the shortest repr —
    and they diverge in the last integer digits (hypothesis falsifier
    at 3.017e16, r10 wide-hop fuzz).  Below 2^53 every double is an
    exactly-representable value whose shortest repr IS its exact value,
    so the two casts agree bit-for-bit.  Fixture addends (prices,
    quantities, products of the two) top out around 5e6; the SUM domain
    is what the wide/fast variants manage, never the addend.
    """
    c = _c(col)
    return F.when(F.abs(c) < F.lit(SUB_TICK), F.lit(0.0)).otherwise(c).cast(DEC)


def exact_double(dec_col: Column, nd: int = 6) -> Column:
    """DECIMAL expression → double, bit-identical across engines.

    Two cross-engine traps make the naive ``ROUND(CAST(x AS DOUBLE), nd)``
    non-deterministic (found by tests/test_fuzz_parity.py):

    1. ROUND on a DOUBLE uses HALF_UP on the decimal rendering in Spark but
       half-even scaled-double math in DuckDB — midpoints diverge.
    2. DuckDB's decimal→double cast computes ``int128 / 10^scale`` in double
       (two roundings) while the JVM correctly rounds once — they disagree by
       1 ulp on ~20% of values whose unscaled form exceeds 2^53 (measured).

    Fix: round in DECIMAL (half-up, away-from-zero in BOTH engines), then
    route the cast through the exact integer ``value·10^nd`` as BIGINT.
    int64→double is round-to-nearest-even in both the JVM and C++, and the
    final ``/ 10^nd`` is one IEEE division both sides — bit-identical.
    Domain at nd=6: |value| < 2⁶³/10⁶ ≈ 9.2e12 (the int64 hop holds
    value·10^nd; exceeding it is a HARD CAST_OVERFLOW under ANSI, not a
    silent wrap — ``ml_gmm_em_loop``'s exp clamp exists for exactly
    this).  An earlier revision claimed 1e17 here; that figure was the
    decimal(24,6) bound alone and overstated the hop's headroom.
    """
    s6 = F.round(dec_col, nd)
    if nd <= 6:
        big = (
            s6.cast("decimal(24,6)") * F.lit(10**nd).cast("decimal(8,0)")
        ).cast("long")
    else:
        # nd up to 10 (the dec scale): a scale-matched narrow decimal so
        # the multiply stays inside precision 38 WITHOUT precision-loss
        # rescaling in either engine.  decimal(9+nd, nd) holds exactly the
        # int64 hop's domain (|value| < 2^63/10^nd, e.g. 9.2e8 at nd=10);
        # past it the cast is the same hard ANSI CAST_OVERFLOW as nd=6.
        big = (
            s6.cast(f"decimal({9 + nd},{nd})")
            * F.lit(10**nd).cast(f"decimal({nd + 1},0)")
        ).cast("long")
    return big.cast("double") / F.lit(float(10**nd))


def sql_exact_double(dec_expr: str, nd: int = 6) -> str:
    """DuckDB twin of :func:`exact_double` — takes a DECIMAL-typed SQL expr."""
    if nd <= 6:
        return (
            f"CAST(CAST(CAST(ROUND(({dec_expr}), {nd})"
            f" AS DECIMAL(24,6))"
            f" * CAST({10**nd} AS DECIMAL(8,0)) AS BIGINT) AS DOUBLE)"
            f" / {float(10**nd)!r}"
        )
    return (
        f"CAST(CAST(CAST(ROUND(({dec_expr}), {nd})"
        f" AS DECIMAL({9 + nd},{nd}))"
        f" * CAST({10**nd} AS DECIMAL({nd + 1},0)) AS BIGINT) AS DOUBLE)"
        f" / {float(10**nd)!r}"
    )


# Magnitude guard for the adaptive hop below: strictly inside the nd=6
# int64 domain (2^63/10^6 ≈ 9.22e12) with margin, and an EXACT integer
# literal so the decimal comparison has no boundary ambiguity.
_WIDE_LIM = 9 * 10**12


def exact_double_wide(dec_col: Column) -> Column:
    """``exact_double`` with a magnitude-adaptive hop: bit-identical to
    the nd=6 form for |value| < 9e12 (every graded fixture — standard
    hashes cannot move), and an nd=0 integer hop beyond it, extending
    the hard CAST_OVERFLOW ceiling from 9.2e12 to 2^63 ≈ 9.2e18.

    Past 9e12 the 0 dp branch CAN discard representable precision —
    doubles hold fractional parts exactly up to 2^52 ≈ 4.5e15, so in the
    [9e12, 4.5e15) band rounding at 0 dp instead of 6 drops up to 0.5
    absolute (<6e-14 relative past the guard).  That loss is below
    per-sum float nondeterminism at such magnitudes, is deterministic,
    and is mirrored bit-for-bit by the DuckDB twin — the two branches
    differ only in which exact integer feeds the one int64→double
    rounding, so parity is unaffected.

    ANSI-hoisting safety (the CLAUDE.md CASE/WHEN trap): each branch's
    cast input is CLAMPED to its domain (the untaken branch sees 0), so
    whole-stage codegen may evaluate both casts without overflow.

    Found by the r10 100x value-parity slice: ``agg_weighted_mean``'s
    2.6e13 weighted-revenue sum at 60M rows was a hard CAST_OVERFLOW one
    decade past the 10x grain."""
    s6 = F.round(dec_col, 6)
    in6 = F.abs(s6) < F.lit(_WIDE_LIM).cast("decimal(14,0)")
    safe6 = F.when(in6, s6).otherwise(F.lit(0).cast(DEC))
    big6 = (
        safe6.cast("decimal(24,6)") * F.lit(10**6).cast("decimal(8,0)")
    ).cast("long")
    # the 0 dp branch rounds the ALREADY-6dp value (round(round(x,6),0),
    # not round(x,0)): idempotent under a 6 dp pre-round, which makes the
    # long-split fast path — whose scale-restoring divide pre-rounds at
    # 6 dp — a bit-exact twin of this hop at ANY magnitude
    s0 = F.round(s6, 0)
    safe0 = F.when(in6, F.lit(0).cast(DEC)).otherwise(s0)
    big0 = safe0.cast("decimal(30,0)").cast("long")
    return F.when(in6, big6.cast("double") / F.lit(1e6)).otherwise(
        big0.cast("double")
    )


def sql_exact_double_wide(dec_expr: str) -> str:
    """DuckDB twin of :func:`exact_double_wide` — same clamped two-branch
    hop, same exact-integer guard literal."""
    s6 = f"ROUND(({dec_expr}), 6)"
    s0 = f"ROUND({s6}, 0)"
    in6 = f"ABS({s6}) < CAST({_WIDE_LIM} AS DECIMAL(14,0))"
    safe6 = f"CASE WHEN {in6} THEN {s6} ELSE CAST(0 AS {SQL_DEC}) END"
    safe0 = f"CASE WHEN {in6} THEN CAST(0 AS {SQL_DEC}) ELSE {s0} END"
    big6 = (
        f"CAST(CAST(({safe6}) AS DECIMAL(24,6))"
        f" * CAST(1000000 AS DECIMAL(8,0)) AS BIGINT)"
    )
    big0 = f"CAST(CAST(({safe0}) AS DECIMAL(30,0)) AS BIGINT)"
    return (
        f"CASE WHEN {in6} THEN CAST({big6} AS DOUBLE) / 1000000.0"
        f" ELSE CAST({big0} AS DOUBLE) END"
    )


def dsum_wide(col: Column | str, alias: str) -> Column:
    """Order-insensitive exact sum whose magnitude may exceed the nd=6
    hop domain (9.2e12) — fact-table revenue-scale sums at the 100x+
    tier.  Bit-identical to :func:`dsum` inside the domain."""
    return exact_double_wide(F.sum(dec_cast(col))).alias(alias)


def sql_dsum_wide(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum_wide`."""
    return f"{sql_exact_double_wide(f'SUM({sql_dec_cast(expr)})')} AS {alias}"


def sql_dec_cast(expr: str) -> str:
    """double expr → DECIMAL(30,10) the way the JVM does it.

    The VARCHAR hop is load-bearing: DuckDB's direct double→decimal cast
    multiplies the binary value by 10^scale in double arithmetic, which
    diverges from the JVM's shortest-repr parse for |x| > 2^53/10^scale.
    Both engines round the SHORTEST DECIMAL REPR half-up (verified on
    midpoints, subnormals, ±0.0) — so parse the repr on both sides.

    The CASE clamp zeroes sub-tick magnitudes BEFORE the parse: DuckDB's
    VARCHAR→DECIMAL rounds e.g. '6.64e-298' away from zero to 1E-10
    (fuzz-found) while the JVM yields 0 — see :data:`SUB_TICK` and the
    Spark twin :func:`dec_cast`.
    """
    clamped = f"CASE WHEN ABS(({expr})) < {SUB_TICK!r} THEN CAST(0.0 AS DOUBLE) ELSE ({expr}) END"
    return f"CAST(CAST(({clamped}) AS VARCHAR) AS {SQL_DEC})"


def dround(col: Column | str, nd: int = 6) -> Column:
    """Deterministic ROUND of a double expression (e.g. a ratio of counts).

    ``F.round(x, nd)`` on a double is the midpoint trap (HALF_UP rendering
    in Spark vs scaled-double half-even in DuckDB): a quotient of two small
    integers is an exact terminating decimal whenever the denominator is
    2^a·5^b, so midpoints are NOT improbable.  Route through DECIMAL
    (shortest-repr parse, half-up in both engines) + the exact int64 hop.
    """
    return exact_double(dec_cast(col), nd)


def sql_dround(expr: str, nd: int = 6) -> str:
    """DuckDB twin of :func:`dround` — takes a double-typed SQL expr."""
    return sql_exact_double(sql_dec_cast(expr), nd)


def _exact_rounded_sum(col: Column | str, nd: int) -> Column:
    return exact_double(F.sum(dec_cast(col)), nd)


def _sql_exact_rounded_sum(expr: str, nd: int) -> str:
    return sql_exact_double(f"SUM({sql_dec_cast(expr)})", nd)


def dsum(col: Column | str, alias: str, nd: int = 6) -> Column:
    """Order-insensitive exact sum of a double expression → double, round(nd)."""
    return _exact_rounded_sum(col, nd).alias(alias)


def _fast_dec_sum(col: Column | str) -> Column:
    """Exact twin of ``SUM(CAST(x AS DECIMAL(30,10)))`` with LONG accumulation.

    The decimal sum's per-row BigDecimal add dominates wide aggregates
    (measured: ~0.3 s per distinct decimal sum over 600k rows vs ~0.06 s
    plain double).  Equivalent exact computation: scale each rounded-at-10dp
    addend to its unscaled int64 (``x·10^10``), split into high/low parts at
    a power-of-two base (shift/mask are exact integer ops for ANY sign —
    arithmetic shift is floor division and the masked low part is its
    non-negative remainder), sum both parts as plain longs (fast, exact,
    associative), and reassemble the total in decimal once per GROUP.
    Bit-identical to the decimal sum by construction — every step is exact
    integer arithmetic; the only rounding is the same double→decimal(30,10)
    cast both engines already share, so ``sql_dsum``/``sql_davg`` remain the
    oracle twins.

    Domain (documented, not checked — overflow would null out):
    - per addend |x| < 9.2e8  (x·10^10 must fit int64); measure-band values
      (prices, quantities, ratios, reflectances) are orders below this
    - per group  Σ|x| < 7.5e12 and rows < 2^50 (high/low part sums fit
      int64) — the same order as :func:`exact_double`'s own int64 hop, so
      this path narrows nothing that the final conversion didn't already
    Use :func:`dsum` when addends can exceed the band (it holds ~1e20).
    """
    hi, lo = fast_sum_parts(col)
    return fast_sum_reassemble(F.sum(hi), F.sum(lo))


def fast_sum_parts(col: Column | str) -> tuple[Column, Column]:
    """Per-ROW (hi, lo) int64 lanes of the 10^-10-scaled decimal addend —
    the :func:`_fast_dec_sum` split exported for sites that need to
    re-aggregate partial lane sums across a join/regroup
    (``join_range_bucket``): integer addition is associative, so summing
    the lanes in any grouping and reassembling with
    :func:`fast_sum_reassemble` is bit-identical to the one-shot sum.
    r13 (r12 ADVICE): the constants (2^13 base, 10^10 scale, the
    decimal typing) previously lived duplicated in joins.py — any drift
    would have silently broken the claimed oracle bit-identity."""
    base = 1 << 13
    xd = dec_cast(col)
    u = (xd * F.lit(10**10).cast("decimal(11,0)")).cast("long")
    lo = u.bitwiseAND(F.lit(base - 1))
    hi = F.shiftright(u, 13)
    return hi, lo


def fast_sum_reassemble(hi_sum: Column, lo_sum: Column) -> Column:
    """Reassemble summed :func:`fast_sum_parts` lanes into the exact
    total: Σhi·2^13 + Σlo in decimal(38,0), then the scale-restoring
    /10^10.  Spark's precision-loss adjustment types
    decimal(38,0)/decimal(11,0) as decimal(38,6), so this divide lands at
    SCALE 6, HALF_UP — it pre-rounds the total at 6 dp.  That is
    bit-identical to the decimal path ONLY because the final
    exact_double(·, nd=6) applies the same idempotent half-up round;
    dsum_fast/davg_fast therefore take no nd (any other nd would
    double-round and silently diverge from dsum and the DuckDB oracle)."""
    base = 1 << 13
    scaled = hi_sum.cast("decimal(38,0)") * F.lit(base).cast(
        "decimal(5,0)"
    ) + lo_sum.cast("decimal(38,0)")
    return scaled / F.lit(10**10).cast("decimal(11,0)")


def dsum_fast(col: Column | str, alias: str) -> Column:
    """:func:`dsum` at nd=6 with long-split accumulation — same result,
    ~2× cheaper per row; see :func:`_fast_dec_sum` for the domain
    contract.  There is no nd: the fast path's scale-restoring divide
    already rounds at 6 dp (see :func:`fast_sum_reassemble`)."""
    return exact_double(_fast_dec_sum(col), 6).alias(alias)


def davg_fast(col: Column | str, alias: str) -> Column:
    """:func:`davg` at nd=6 with long-split accumulation (shares its sum
    buffers with :func:`dsum_fast` on the same expression)."""
    c = _c(col)
    return (exact_double(_fast_dec_sum(c), 6) / F.count(c).cast("double")).alias(
        alias
    )


def davg(col: Column | str, alias: str, nd: int = 6) -> Column:
    """Deterministic average: bit-identical rounded sum / count, one IEEE divide.

    The quotient itself is NOT re-rounded: numerator and denominator are
    bit-identical doubles on both engines, so the IEEE division result is
    too — re-rounding it would only reintroduce the midpoint-rule trap.
    """
    c = _c(col)
    return (_exact_rounded_sum(c, nd) / F.count(c).cast("double")).alias(alias)


def sql_dsum(expr: str, alias: str, nd: int = 6) -> str:
    return f"{_sql_exact_rounded_sum(expr, nd)} AS {alias}"


def sql_davg(expr: str, alias: str, nd: int = 6) -> str:
    return (
        f"{_sql_exact_rounded_sum(expr, nd)}"
        f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )
