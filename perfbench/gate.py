"""Golden gate: committed rows against the generator's golden outcomes."""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable


def wrong_turns(rows: Iterable[tuple[str, int, str, bool]],
                goldens: dict[tuple[str, int], tuple[str, bool]]) -> int:
    """Count turns whose committed row is wrong.

    ``rows`` are ``(conv_id, turn_idx, md5 of text, has parse_error)``
    as read back from the committed output. A golden turn is wrong when
    its row is missing or duplicated, when its text differs from the
    golden text, or when ``parse_error`` presence differs from what the
    golden expects. A committed row for a turn that was never generated
    counts as wrong too.
    """
    seen: Counter = Counter()
    outcome: dict[tuple[str, int], tuple[str, bool]] = {}
    for conv_id, turn_idx, text_md5, has_error in rows:
        key = (conv_id, int(turn_idx))
        seen[key] += 1
        outcome[key] = (text_md5, bool(has_error))
    wrong = sum(1 for key in seen if key not in goldens)
    for key, golden in goldens.items():
        if seen[key] != 1 or outcome[key] != golden:
            wrong += 1
    return wrong
