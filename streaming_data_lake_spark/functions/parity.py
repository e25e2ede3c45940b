"""Cross-engine numeric parity helpers.

The correctness gate hash-compares query output against a DuckDB
oracle. Floating-point SUM is order-dependent, and Spark and DuckDB
will not add 60k doubles in the same order — so money/quantity
aggregates are computed in *decimal* (exact, order-independent) and
converted to double only at the end via deterministic casts. Both
engines then produce bit-identical doubles.

Each Spark helper has a ``duck_*`` twin that emits the equivalent
DuckDB SQL fragment, so query and oracle stay in lockstep.

At 100 TB this is also the *right* engineering: decimal aggregation
of money avoids the silent drift of double summation across
partition orderings, and stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default decimal spec: wide enough for 2-dp money at 100 TB row counts.
MONEY = "decimal(18,2)"
DUCK_MONEY = "DECIMAL(18,2)"


def dsum(c: Column, spec: str = MONEY) -> Column:
    """Exact decimal SUM surfaced as double."""
    return F.sum(c.cast(spec)).cast("double")


def duck_dsum(expr: str, spec: str = DUCK_MONEY) -> str:
    return f"CAST(sum(CAST({expr} AS {spec})) AS DOUBLE)"


def davg(c: Column, spec: str = MONEY) -> Column:
    """Order-independent AVG: exact decimal sum → double, divided by
    the non-null count in double. One double division on identical
    operands → identical result in both engines."""
    return F.sum(c.cast(spec)).cast("double") / F.count(c).cast("double")


def duck_davg(expr: str, spec: str = DUCK_MONEY) -> str:
    return (
        f"CAST(sum(CAST({expr} AS {spec})) AS DOUBLE)"
        f" / CAST(count({expr}) AS DOUBLE)"
    )


def finite(c: Column) -> Column:
    """Value-level finiteness guard: NaN/+Inf/-Inf → NULL, finite
    values pass through unchanged (identity on clean data).

    Queries that aggregate RAW ``events.value`` (not via the clean
    contract, which rejects non-finite rows as NON_FINITE_VALUE)
    treat a non-finite value as a data error excluded from value
    aggregates: a single NaN row must not abort a 100 TB job in a
    decimal/ANSI cast, and NULL-skipping SUM/AVG semantics are
    identical across engines, unlike NaN propagation. The row itself
    still exists for counts — value-level, not row-level, exclusion.
    Mirror in oracles with :data:`~...duckql` ``DUCK_FINITE``.
    """
    return F.when(~F.isnan(c) & (F.abs(c) < F.lit(float("inf"))), c)


#: DuckDB twin of :func:`finite` — format with the column expression.
DUCK_FINITE = "(CASE WHEN isfinite({c}) THEN {c} END)"


# ---------------------------------------------------------------------------
# Event-time admission (the r13 time-edge contract)
# ---------------------------------------------------------------------------

#: Admissible event-time window, EXCLUSIVE on both ends. Epoch zero
#: itself is excluded (the canonical parser-failure sentinel: a field
#: that failed to parse lands at exactly 1970-01-01T00:00:00). The
#: far bound caps watermark poisoning: ONE far-future row otherwise
#: advances the watermark past every legitimate event and silently
#: drops the rest of the stream (measured: the r13 time-edge sweep
#: lost 2-3 rows per streaming query from a single year-9999 row).
#: The near bound also keeps driver-side materialization total:
#: pyspark's client datetime conversion aborts on timestamps that
#: fall before year 1 / after year 9999 in the HOST timezone — one
#: ancient row kills the collect of a 100 TB result.
TS_VALID_MIN = "1970-01-01 00:00:00"
TS_VALID_MAX = "2100-01-01 00:00:00"


def admissible_ts(c: Column) -> Column:
    """Boolean event-time admission: non-NULL and strictly inside
    (epoch, 2100). The strict comparisons are NULL-safe in a filter
    (NULL compares to NULL, which filter() treats as false); the
    explicit isNotNull keeps the predicate reusable in reject-reason
    CASE chains where three-valued logic matters. Mirror in oracles
    with :data:`DUCK_TS_ADMISSIBLE`."""
    return (
        c.isNotNull()
        & (c > F.lit(TS_VALID_MIN).cast("timestamp"))
        & (c < F.lit(TS_VALID_MAX).cast("timestamp"))
    )


#: DuckDB twin of :func:`admissible_ts` — format with the column
#: expression. NULL-excluding inside a WHERE (NULL > x is NULL).
DUCK_TS_ADMISSIBLE = (
    "({c} > TIMESTAMP '1970-01-01 00:00:00'"
    " AND {c} < TIMESTAMP '2100-01-01 00:00:00')"
)
