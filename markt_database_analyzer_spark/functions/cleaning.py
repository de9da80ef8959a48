"""ANSI-safe coercion & cleaning (SURVEY.md §2.2 P3-P5, §2.8 F5-F8).

The reference's single most load-bearing semantic is pandas
"coerce-with-null-on-failure, then drop":

- ``pd.to_numeric(..., errors='coerce')``  (analyse.py:29,183-184,386-387)
- ``pd.to_datetime(..., errors='coerce')`` (analyse.py:175-176)
- ``''`` treated as missing                (analyse.py:28,391)
- ``.str.strip()``                          (analyse.py:390)

Spark 4 defaults to ANSI mode, where a plain ``cast`` on a malformed string
**throws**. These helpers use ``try_cast`` / ``try_to_timestamp`` so bad
values become null (exactly pandas' coerce) while ANSI stays on for the rest
of the engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ``try_cast`` reads numbers with Java's grammar, which takes a float-type
# suffix ('1d', '1.5F'); pandas rejects those.
_JAVA_SUFFIX = r"[0-9.][dDfF]\s*$"
# The only strings pandas reads as ±inf; a number past the double range
# ('1e400') or a padded ' inf ' is NaN there, where ``try_cast`` gives ±inf.
_INF = r"(?i)^[+-]?inf(inity)?$"


def coerce_numeric(col: Column | str) -> Column:
    """``pd.to_numeric(errors='coerce')`` (F8): malformed → null, never throw.
    A Java-suffixed number ('1d', '2F') and a number that overflows the
    double range ('1e400') are malformed, as in pandas."""
    c = F.col(col) if isinstance(col, str) else col
    v = c.try_cast("double")
    finite = F.abs(v) != F.lit(float("inf"))
    return F.when(~c.rlike(_JAVA_SUFFIX) & (finite | c.rlike(_INF)), v)


def coerce_timestamp(col: Column | str) -> Column:
    """``pd.to_datetime(errors='coerce')`` (F7): malformed → null."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c)


def blank_to_null(col: Column | str) -> Column:
    """``.str.strip()`` + ``replace('', NaN)`` (F5+F6, analyse.py:390-391)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def not_null_or_empty(col: Column | str) -> Column:
    """Predicate for ``notnull() & (x != '')`` (P3, analyse.py:28)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (c != F.lit(""))
