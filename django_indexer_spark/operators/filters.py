"""Stream-routing regexes — SURVEY.md §2.2 (F9): the three account
patterns the reference matches receiver ids against. Callers build plain
``rlike`` Column predicates from them (no UDF)."""

from __future__ import annotations

# F9 regex account patterns, matching the reference matchers exactly:
# - bare factory, no subaccount (pots/utils.py:12-15)
# - pot = factory pattern with a [a-zA-Z0-9_-]+ subaccount (pots/utils.py:18-21)
# - nadabot registry (nadabot/utils.py:5-16; letters-only middle label)
# sources/normalize.py routes on these same constants.
POT_FACTORY_RE = r"^v\d+\.potfactory\.potlock\.near$"
POT_RE = r"^[a-zA-Z0-9_-]+\.v\d+\.potfactory\.potlock\.near$"
NADABOT_RE = r"^v\d+(?:new)?\.[a-zA-Z]+\.nadabot\.near$"
