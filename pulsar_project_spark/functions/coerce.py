"""Type-coercion expression builders (reference ``utils.py:165-244``).

Schema-driven argument casting (``memory.py:218-239``) in the reference
coerces string args per the declared JSON-schema type: number →
int-if-integral-else-float, boolean via common true/false spellings. All
expressible with ``try_cast`` + CASE — no UDF, fully codegen'd, and ANSI
SQL the oracle can mirror.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRUE_WORDS = ("true", "t", "yes", "y")
FALSE_WORDS = ("false", "f", "no", "n")


def is_float_convertible(col: Column | str) -> Column:
    """float(value) succeeds ⇔ try_cast to double non-null
    (utils.py:174-179)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double").isNotNull()


def is_int_convertible(col: Column | str) -> Column:
    """Reference goes through float then ``is_integer`` (utils.py:165-172):
    "5.0" counts as int-convertible."""
    c = F.col(col) if isinstance(col, str) else col
    d = c.try_cast("double")
    return d.isNotNull() & (d == F.floor(d))


def boolean_convertible(col: Column | str) -> Column:
    """is_boolean_convertible for strings (utils.py:181-204)."""
    c = F.col(col) if isinstance(col, str) else col
    words = TRUE_WORDS + FALSE_WORDS
    return F.lower(c).isin(*words)


def to_boolean(col: Column | str) -> Column:
    """convert_to_boolean for strings + integral numerics
    (utils.py:206-244): true/t/yes/y → true; false/f/no/n → false;
    numeric 1/1.0 → true, 0/0.0 → false; else NULL (the reference raises
    — un-convertible rows surface as NULL so callers can filter/reject,
    matching the schema-validity predicate memory.py:212-244)."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    d = c.try_cast("double")
    return (
        F.when(low.isin(*TRUE_WORDS), F.lit(True))
        .when(low.isin(*FALSE_WORDS), F.lit(False))
        .when(d.isNotNull() & (d == 1.0), F.lit(True))
        .when(d.isNotNull() & (d == 0.0), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )

