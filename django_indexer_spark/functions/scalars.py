"""Scalar function library — SURVEY.md §2.8 (C1-C17).

Every transform the reference applies row-at-a-time in Python handlers,
re-expressed as JVM-side Column expressions (whole-stage codegen; no UDFs
anywhere in this module — that is the point).

Reference citations are to /root/reference/ (PotLock django-indexer).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# -- C1: base64 decode of args / SuccessValue (handler.py:175,294;
#        utils.py:339-343,390-394,489-491)


def b64_json(col: Column | str) -> Column:
    """base64 → utf-8 string (the decoded payload is JSON text)."""
    return F.unbase64(F.col(col) if isinstance(col, str) else col).cast("string")


# -- C2: JSON parse (handler.py:103,183-195,303-309) — callers pass the
#        schema; for ad-hoc pulls use json_path.


def json_path(col: Column | str, path: str) -> Column:
    return F.get_json_object(F.col(col) if isinstance(col, str) else col, path)


# -- C3: nanosecond block timestamp → TimestampType (handler.py:52,
#        base/utils.py:16-26: datetime.fromtimestamp(ts/1e9))


def ns_to_timestamp(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros((c / F.lit(1000)).cast("long"))


# -- C4: millisecond contract timestamp → TimestampType
#        (utils.py:162-173,886-888; populatedata.py:50-51)


def ms_to_timestamp(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_millis(c.cast("long"))


# -- C5: dd-MM-yyyy date key (base/utils.py:4-8, Coingecko history key)


def date_key(col: Column | str) -> Column:
    return F.date_format(F.col(col) if isinstance(col, str) else col, "dd-MM-yyyy")


# -- C8: net-amount arithmetic with null-as-0 fees (utils.py:875-884,
#        populatedata.py:168-171,417-426)


def net_amount(total: Column | str, *fees: Column | str) -> Column:
    t = (F.col(total) if isinstance(total, str) else total).cast("decimal(38,0)")
    for fee in fees:
        c = F.col(fee) if isinstance(fee, str) else fee
        t = t - F.coalesce(c.cast("decimal(38,0)"), F.lit(0).cast("decimal(38,0)"))
    return t


# -- C11: digit-check guard (tasks.py:203 str.isdigit())

DIGITS_RE = "^[0-9]+$"


def is_digits(col: Column | str) -> Column:
    return (F.col(col) if isinstance(col, str) else col).rlike(DIGITS_RE)


# -- C14/C15: enum-dict unwrap for nadabot group rules (utils.py:1164-1181):
#    payload is either "Highest" (plain enum) or {"IncreasingReturns": 10}
#    (enum with value). Emit two columns: rule_type, rule_val.


def rule_type(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    keys = F.map_keys(F.from_json(c, "map<string,int>"))
    return F.when(c.startswith("{"), keys.getItem(0)).otherwise(c)


def rule_val(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    vals = F.map_values(F.from_json(c, "map<string,int>"))
    return F.when(c.startswith("{"), vals.getItem(0)).otherwise(F.lit(None).cast("int"))


# -- C17: fallback/coalesce chains (utils.py:130-133,917,886-888,645)
#         — plain F.coalesce at call sites; re-exported for discoverability.

coalesce = F.coalesce
