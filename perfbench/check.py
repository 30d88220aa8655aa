"""Answer checks. Each returns a list of problems; empty means correct.
None of them runs inside a timed interval."""

from __future__ import annotations

import hashlib
import math


def check_get(got, want) -> list[str]:
    if got != want:
        return [f"get_record: got {got!r}, want {want!r}"]
    return []


def check_batch_get(got: dict, want: dict) -> list[str]:
    """``want`` maps every requested key to its record or None; absent
    and tombstoned keys must be missing from ``got``."""
    expected = {k: v for k, v in want.items() if v is not None}
    if got == expected:
        return []
    wrong = sorted(set(got) ^ set(expected)) or sorted(k for k in got if got[k] != expected.get(k))
    return [f"batch_get_record: {len(wrong)} keys differ, e.g. {wrong[:3]}"]


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if isinstance(v, float):
        return repr(v)
    return str(v)


def rows_digest(rows) -> tuple[int, str]:
    """(count, order-free sha256) of a row multiset."""
    lines = sorted("\x1f".join(_canon(v) for v in r) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return len(lines), h


def check_rows(what: str, got_rows, want_rows) -> list[str]:
    got, want = rows_digest(got_rows), rows_digest(want_rows)
    if got != want:
        return [f"{what}: got {got[0]} rows / {got[1][:12]}, want {want[0]} rows / {want[1][:12]}"]
    return []
