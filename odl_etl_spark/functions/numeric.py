"""Cross-engine-stable numeric helpers.

``ROUND(double, 2)`` is NOT portable: Spark rounds the shortest decimal
representation (``BigDecimal.valueOf``) while DuckDB rounds the binary
value, so values near a .xx5 boundary diverge (e.g. 8285.425 → 8285.43 vs
8285.42). The portable form is scale-to-integer rounding —
``round(x * 10^n) / 10^n`` — where both engines round the *same* IEEE
double half-away-from-zero. Use ``roundn`` in Spark builders and
``sql_roundn`` in oracle SQL; never bare ROUND(x, n) on doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def roundn(col: Column, n: int = 2) -> Column:
    p = float(10**n)
    return F.round(col * p) / p


def sql_roundn(expr: str, n: int = 2) -> str:
    p = 10**n
    return f"ROUND(({expr}) * {p}) / {p}"


INT64_MAX = 2**63 - 1

# True TPC-H per-row bound for the Q1 'charge' term
# l_extendedprice * (1 - l_discount) * (1 + l_tax) — NOT a guessed
# power of ten (ADVICE r12 #3): extendedprice = quantity * retailprice
# with quantity <= 50 and retailprice < 2100 gives extendedprice
# < 105,000; discount only shrinks it and tax <= 0.08 inflates it, so
# charge < 105,000 * 1.08 = 113,400. The synthetic fixture obeys the
# same bound (measured max charge 113,306.70 at sf0.1). Using this
# instead of the old padded 2e5 * 1.08 raises the guarded scale
# ceiling ~1.9x. Resulting ceiling, worst case ALL rows in ONE group
# at scale 1e6 with margin 8: INT64_MAX / (8 * 113,400 * 1e6) ~ 10.17M
# lineitem rows (~TPC-H sf1.7). Beyond that the 1e6-scale charge sum
# must widen its accumulator to DECIMAL(38,0) on both engines (the
# realistic grouped sum fits far longer — this is the refuse-loudly
# all-in-one-group bound, not the expected value).
LINEITEM_CHARGE_BOUND = 105_000.0 * 1.08

# Sibling hard bounds for the other money columns the fixed-SQL keys
# accumulate (same derivation posture: analytic TPC-H bound, verified
# against the fixture in test_overflow_guards):
#   o_totalprice  — an order totals <= 7 lineitems' charges (TPC-H order
#                   size bound), so < 7 x 113,400 = 793,800 (fixture max
#                   499,993.18 at sf0.1);
#   c_acctbal     — spec range [-999.99, 9999.99] -> |.| < 10,000
#                   (fixture max 9,999.80);
#   p_retailprice — < 2,100 (the retailprice bound already used to
#                   derive the charge bound; fixture max 999.90);
#   events.value  — |value| <= 1,000 fixture contract (max 560.21), the
#                   bound agg_corr's guard already uses;
#   l_extendedprice*l_quantity — < 105,000 x 50 = 5,250,000 (fixture max
#                   5,249,891.00).
ORDERS_TOTALPRICE_BOUND = 7 * LINEITEM_CHARGE_BOUND
CUSTOMER_ACCTBAL_BOUND = 10_000.0
PART_RETAILPRICE_BOUND = 2_100.0
EVENTS_VALUE_BOUND = 1_000.0
LINEITEM_PRICEQTY_BOUND = 105_000.0 * 50


def assert_scaled_sum_headroom(
    n_rows: int,
    max_abs_term: float,
    scale: int,
    margin: int = 8,
    what: str = "scaled sum",
) -> None:
    """Refuse a scaled-BIGINT aggregation that could silently wrap.

    The determinism pattern used by ``emb_covariance``, ``agg_weighted``,
    ``text_entropy`` and ``emb_norm_stats`` sums ``round(term * scale)``
    as BIGINT so both engines add exact integers in any order. int64
    overflow in that sum is SILENT wraparound on the Spark side, so the
    bound must be checked, not documented: the worst case
    ``n_rows * max_abs_term * scale`` must clear INT64_MAX by ``margin``.
    ``n_rows`` is a driver-side scalar the caller already has (a count or
    a per-group bound) — parameter data, same posture as
    ``guard_bounded_groups``. On failure, widen to DECIMAL(38,0) on both
    engines or reduce the scale.
    """
    if scaled_sum_needs_decimal(n_rows, max_abs_term, scale, margin):
        worst = int(n_rows * max_abs_term * scale)
        raise OverflowError(
            f"{what}: worst-case |sum| ~{worst:.3e} leaves < {margin}x headroom "
            f"to int64 ({n_rows} rows x {max_abs_term} x scale {scale:.0e}); "
            "widen the accumulator to DECIMAL(38,0) on both engines or "
            "lower the scale"
        )


def scaled_sum_needs_decimal(
    n_rows: int, max_abs_term: float, scale: int, margin: int = 8
) -> bool:
    """True when the worst case ``n_rows * max_abs_term * scale`` does not
    clear INT64_MAX by ``margin`` — the same bound the refusal guard
    checks, exposed as a predicate for callers that HAVE a decimal path."""
    return int(n_rows * max_abs_term * scale) * margin > INT64_MAX


def scaled_sum_acc_type(
    n_rows: int,
    max_abs_term: float,
    scale: int,
    margin: int = 2,
    what: str = "scaled sum",
) -> str:
    """Pick the exact-integer accumulator for a scaled money sum:
    ``'bigint'`` while the worst case clears INT64_MAX by ``margin``,
    ``'decimal(38,0)'`` beyond — the widening the refusal message of
    ``assert_scaled_sum_headroom`` demands, applied automatically by the
    Q1-shape keys (``agg_groupby``, ``sql_tpch_q1``) whose
    all-rows-in-one-group worst case genuinely binds at lake scale.

    The margin here is 2, NOT the refusal guard's 8, and the difference
    is a measured ×5: decimal(38,0) aggregation leaves whole-stage
    codegen's primitive lane (16-byte unscaled values are object-backed
    BigDecimals past precision 18 — the same lane exit as
    ROUND(double)), and the sf10p A/B measured 14.0s vs 2.8s on
    agg_groupby / 8.2s vs 1.8s on sql_tpch_q1 at 60M rows, identical
    values (SCALING.md round-13). Deferring the widening costs nothing
    in exactness — ``n_rows × max_abs_term`` is a HARD bound (analytic
    charge bound, exact row count), so any margin ≥ 1 provably cannot
    wrap; margin 2 covers the bound arithmetic's float slop a
    thousandfold. Resulting ceiling at scale 1e6: ~40.7M lineitem rows
    (~TPC-H sf6.8), pinned from both sides in test_overflow_guards. The
    8× margin stays on ``assert_scaled_sum_headroom`` because refusal
    sites have no automatic remedy — conservatism is the point there.

    Exactness is preserved, not approximated: the per-row term is still
    the quantized integer ``floor(x*scale + 0.5)`` (a bigint — exact);
    widening only changes the SUM accumulator, and decimal(38,0)
    addition is exact integer arithmetic with 10^38 range (Spark's
    partial/final sums stay associative and order-free, same as int64).
    Spark nulls a decimal(38,0) sum only past 1e38 — ~10^20x beyond the
    int64 ceiling, unreachable (6e11 rows at TPC-H sf100k worst-case
    ~7e22). The final ``SUM/10^n`` division coerces decimal->double the
    same way bigint->double does, so the result schema is IDENTICAL in
    both modes. The driver's oracle tie is unaffected: every
    driver-checked scale (sf<=0.1, 600k rows) picks 'bigint', i.e. the
    byte-identical plan; past the ceiling there is no oracle (DuckDB's
    BIGINT SUM raises on overflow — its widened twin would be HUGEINT,
    out of the driver's type canon by design). ``what`` documents the
    guarded term at the call site (and keeps call sites greppable).
    """
    if scaled_sum_needs_decimal(n_rows, max_abs_term, scale, margin):
        return "decimal(38,0)"
    return "bigint"


def cents(col: Column, n: int = 2) -> Column:
    """Per-row scale-to-integer quantization, fast path.

    ``floor(x * 10^n + 0.5)`` stays in whole-stage codegen's primitive
    double lane; Spark's ``ROUND(double)`` routes every row through
    BigDecimal and measured ~2x slower on a 5-column money aggregation
    (round-12 warm A/B: 1.19s vs 0.58s on sf0.1 lineitem). Determinism
    across engines needs only that BOTH sides evaluate the IDENTICAL
    IEEE expression on the identical stored double — multiply, add 0.5,
    floor are each exactly specified, so the oracle twin ``sql_cents``
    uses the same formula. Semantics note: on exact .5 boundaries this
    is half-toward-+inf (vs ROUND's half-away-from-zero); for negatives
    the two differ, but every audited money column is either on a grid
    (never near .5 after scaling) or compared via the shared formula,
    so the tie is unconditional.

    DO NOT migrate ``streaming/stateful.py`` onto this helper (ADVICE
    r12 #2): the stateful running-totals path intentionally uses the
    OTHER convention — numpy ``sign * floor(|x|*100 + 0.5)``
    (half-away-from-zero), pinned bit-identical to the batch twin's
    ``F.round(value*100)`` in ``queries/streaming.stream_running_totals``
    — because its driver oracle is ROUND-flavored. The two conventions
    differ exactly on negative .5 boundaries; 'unifying' stateful onto
    ``cents`` would silently break the stream==batch tie there. Any
    migration must re-derive BOTH the state update and the oracle SQL
    together (and take a driver re-verification slot)."""
    p = 10**n
    return F.floor(col * p + F.lit(0.5)).cast("bigint")


def sql_cents(expr: str, n: int = 2, acc: str = "BIGINT") -> str:
    """Oracle-side twin of ``cents`` (same IEEE ops, ANSI text).

    ``acc`` is the cast target. The default BIGINT is what every oracle
    string and every driver-checked Spark plan uses; Spark-side builders
    of money SUMs pass ``scaled_sum_acc_type``'s pick so the accumulator
    widens to DECIMAL(38,0) past the last provably-exact int64 row
    (per-row terms always fit — only the SUM can outgrow int64)."""
    p = 10**n
    return f"CAST(FLOOR(({expr}) * {p} + 0.5) AS {acc})"


def sum_cents(col: Column, n: int = 2, acc: str = "bigint") -> Column:
    """Order-free money sum: per-row scale-to-integer quantization
    (identical IEEE multiply/add/floor on every engine, even exactly on
    a .5 boundary — see ``cents``), BIGINT accumulation (exact,
    associative), one final division by the scale (identical operands
    -> identical double). The round-12 exposure audit's migration
    target for SUM(double) money columns whose values live OFF the cent
    grid (o_totalprice) or on a finer grid containing exact .5 rounding
    boundaries.

    ``acc`` widens the accumulator to DECIMAL(38,0) when the caller's
    ``scaled_sum_acc_type`` decision says the int64 worst case no longer
    provably fits; the division result is double either way."""
    term = cents(col, n)
    if acc.lower() != "bigint":
        term = term.cast("decimal(38,0)")
    return F.sum(term) / float(10**n)
