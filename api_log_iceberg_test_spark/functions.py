"""Scalar helper functions (all JVM-side Column expressions — no Python UDFs).

The reference stores latency values as duration *strings* ("4.21ms",
"1.2s" — README.md:183-184), so any latency analytics first needs a
parse-to-milliseconds derived column. The reference itself ships no scalar
functions (SURVEY.md §2.5); everything here is an engine extension expressed
with built-in ``pyspark.sql.functions`` so it stays inside whole-stage
codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: unit suffix → milliseconds multiplier (Go time.Duration print units,
#: which is what MinIO emits: ns/µs/ms/s/m/h).
_UNIT_TO_MS = [
    ("ns", 1e-6),
    ("us", 1e-3),
    ("µs", 1e-3),
    ("ms", 1.0),
    ("s", 1000.0),
    ("m", 60_000.0),
    ("h", 3_600_000.0),
]


def duration_to_ms(col: Column | str) -> Column:
    """Parse a duration string ("4.21ms", "1.2s", "150µs") to float ms.

    Pure Column expression: regexp_extract for the numeric part and the unit
    suffix, then a when-ladder over known units. Unknown/empty → NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    num = F.regexp_extract(c, r"^([0-9]*\.?[0-9]+)", 1).cast("double")
    # \z (absolute end) not $: Java $ also matches before a final line
    # terminator, which would silently accept "4.21ms\n" while the RE2
    # oracle rejects it.
    unit = F.regexp_extract(c, r"([a-zµ]+)\z", 1)
    expr = F.lit(None).cast("double")
    # Build the when-ladder in reverse so the first matching unit wins.
    for suffix, mult in reversed(_UNIT_TO_MS):
        expr = F.when(unit == suffix, num * F.lit(mult)).otherwise(expr)
    return expr


def ms_to_duration(col: Column | str) -> Column:
    """Format float milliseconds back to a short duration string ("4.21ms")."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c >= 1000.0, F.concat(F.round(c / 1000.0, 2).cast("string"), F.lit("s")))
        .otherwise(F.concat(F.round(c, 2).cast("string"), F.lit("ms")))
    )
