"""Output checks: compare what the program returned with what the
generator knows it must return.  A turn fails when its result is
missing, null, duplicated or different."""

from __future__ import annotations

from typing import Dict, Iterable, Tuple

Key = Tuple[str, int]
_MISSING = object()


def count_failed(expected: Dict[Key, object], rows: Iterable[Tuple[Key, object]]) -> int:
    """Number of expected turns whose returned value is wrong.

    ``rows`` yields ``(key, value)`` for every row the program returned;
    a key returned twice, a key not expected, a null and a differing
    value each count as one failed turn, and so does every expected key
    that never came back."""
    seen = set()
    failed = 0
    for key, value in rows:
        want = expected.get(key, _MISSING)
        if key in seen or want is _MISSING or value is None or value != want:
            failed += 1
        seen.add(key)
    return failed + sum(1 for k in expected if k not in seen)


def main_text_failures(expected: Dict[Key, str], table) -> int:
    """Check an extraction output (a pyarrow table with ``conv_id``,
    ``turn_idx`` and ``main_text``)."""
    rows = zip(zip(table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist()),
               table.column("main_text").to_pylist())
    return count_failed(expected, rows)


def sql_failures(expected: Dict[Key, tuple], table) -> int:
    """Check the SQL query's result: per tool turn, the tuple
    ``(query_count, inner_text, attr, markdown)``.  ``inner_text`` and
    ``attr`` are legitimately null when the selector (or attribute)
    misses, so the tuple -- never null itself -- is what is compared."""
    cols = [table.column(c).to_pylist() for c in
            ("conv_id", "turn_idx", "n_match", "first_text", "first_attr", "md")]
    rows = (((c, t), (n, it, a, md)) for c, t, n, it, a, md in zip(*cols))
    return count_failed(expected, rows)
