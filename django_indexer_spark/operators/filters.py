"""Filter/predicate operators — SURVEY.md §2.2 (F1-F12).

Most reference predicates are single Column expressions; they appear inline
in plans/. This module keeps the ones with actual shape: the OR-of-null-
checks repair selector (F6), the JSON-regex category filter (F7), the
live-window predicate (F4), and the stream-routing predicates (F9-F10).

All are pure Column builders — Catalyst pushes them into the parquet scan
(PushedFilters) because nothing here is a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def live_between(start: Column | str, end: Column | str, now: Column) -> Column:
    """F4 — live pots: matching_round_start <= now <= matching_round_end
    (accounts/api.py:211-214; composite indexes pots/models.py:313-323 —
    replaced at scale by parquet min/max stats + partition pruning)."""
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    return (s <= now) & (e >= now)


def needs_usd_fill(
    pairs: list[tuple[str, str]],
) -> Column:
    """F6 — the disjunctive repair selector (tasks.py:155-161).

    ``pairs`` is [(fee_col, usd_col), ...]; a row needs repair when any usd
    col is NULL — except fee-derived ones, which only need repair when the
    fee itself is present. Pass fee_col=None for unconditional columns.
    """
    cond = F.lit(False)
    for fee_col, usd_col in pairs:
        c = F.col(usd_col).isNull()
        if fee_col is not None:
            c = c & F.col(fee_col).isNotNull()
        cond = cond | c
    return cond


def json_array_regex(col: Column | str, path: str, value: str) -> Column:
    """F7 — case-insensitive regex over a JSON-stringified array field
    (lists/api.py:157-161: plCategories__iregex=r'[.*?"{cat}".*?]')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).rlike(f'(?i)\\[.*?"{value}".*?\\]')


def receiver_suffix(receiver: Column | str, *tlas: str) -> Column:
    """F9 — route by receiver suffix (handler.py:84-90 endswith TLA)."""
    c = F.col(receiver) if isinstance(receiver, str) else receiver
    cond = F.lit(False)
    for tla in tlas:
        cond = cond | c.endswith(tla)
    return cond


# F9 regex account patterns, matching the reference matchers exactly:
# - bare factory, no subaccount (pots/utils.py:12-15)
# - pot = factory pattern with a [a-zA-Z0-9_-]+ subaccount (pots/utils.py:18-21)
# - nadabot registry (nadabot/utils.py:5-16; letters-only middle label)
# sources/normalize.py routes on these same constants.
POT_FACTORY_RE = r"^v\d+\.potfactory\.potlock\.near$"
POT_RE = r"^[a-zA-Z0-9_-]+\.v\d+\.potfactory\.potlock\.near$"
NADABOT_RE = r"^v\d+(?:new)?\.[a-zA-Z]+\.nadabot\.near$"


def matches_pattern(col: Column | str, pattern: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(pattern)


def event_json_log(log: Column | str) -> Column:
    """F10 — EVENT_JSON: prefixed log lines (handler.py:100); pair with
    ``extract_event_json`` to get the payload."""
    c = F.col(log) if isinstance(log, str) else log
    return c.startswith("EVENT_JSON:")


def extract_event_json(log: Column | str) -> Column:
    c = F.col(log) if isinstance(log, str) else log
    return F.substring(c, len("EVENT_JSON:") + 1, 1 << 30)


def conditional_unique_key(on_chain_id: Column | str, pot_id: Column | str) -> Column:
    """F11 — donations' conditional uniqueness (donations/models.py:188-200):
    unique on_chain_id when pot IS NULL, unique (on_chain_id, pot) otherwise.
    Collapsed to one dedup key for the merge path (S3)."""
    oc = F.col(on_chain_id) if isinstance(on_chain_id, str) else on_chain_id
    p = F.col(pot_id) if isinstance(pot_id, str) else pot_id
    return F.concat_ws("|", oc.cast("string"), F.coalesce(p, F.lit("__direct__")))
