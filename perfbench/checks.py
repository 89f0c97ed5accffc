"""Output checks, made apart from the engine.

Every check returns ``None`` when the output is right and a one-line
reason when it is not; the benchmark counts a reason as a failed
operation. Nothing here imports the engine, so the checks can be
exercised without Spark (``perfbench/tests``).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np


def canon_value(v) -> str:
    """The canonical text of one cell: ``%.9g`` floats and decimals,
    ISO dates, UTC-naive timestamps, ``∅`` for null, lists element-wise."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon(table) -> tuple[list[str], list[tuple]]:
    """Columns sorted by lower-cased name; rows as sorted tuples of
    canonical cell texts. ``table`` is a pyarrow Table."""
    names = sorted(table.column_names, key=str.lower)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(zip(*(map(canon_value, c) for c in cols))) if cols else []
    return [n.lower() for n in names], rows


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    h.update("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return h.hexdigest()


def compare_canon(got, want) -> str | None:
    """Compare two canonical forms (cols, rows)."""
    gcols, grows = got
    wcols, wrows = want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows, expected {len(wrows)}"
    if grows != wrows:
        bad = next(i for i, (a, b) in enumerate(zip(grows, wrows)) if a != b)
        return f"row {bad}: {grows[bad]} != {wrows[bad]}"
    return None


def check_digest(got, want_digest: str, want_rows: int) -> str | None:
    cols, rows = got
    if len(rows) != want_rows:
        return f"{len(rows)} rows, expected {want_rows}"
    d = digest(cols, rows)
    if d != want_digest:
        return f"digest {d[:12]} != {want_digest[:12]}"
    return None


def compare_keyed(got: dict, want: dict, what: str, tol: float = 1e-6) -> str | None:
    """Compare {key: tuple of numbers} maps exactly on keys, within
    ``tol`` on values."""
    if got.keys() != want.keys():
        missing = sorted(want.keys() - got.keys())[:3]
        extra = sorted(got.keys() - want.keys())[:3]
        return f"{what}: {len(got)} keys, expected {len(want)} (missing {missing}, extra {extra})"
    for k in sorted(want):
        g, w = got[k], want[k]
        if len(g) != len(w) or any(abs(a - b) > tol for a, b in zip(g, w)):
            return f"{what} {k}: {g} != {w}"
    return None


def check_types(got: dict[str, str], want: dict[str, str]) -> str | None:
    """Inferred Spark simple-type names against the generator's."""
    if got != want:
        bad = {c: (got.get(c), t) for c, t in want.items() if got.get(c) != t}
        return f"types differ (got, want): {bad}"
    return None


def check_equal(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: {got} != {want}"


def check_close(what: str, got: float, want: float, rel: float = 1e-9) -> str | None:
    if got is None or abs(got - want) > rel * max(1.0, abs(want)):
        return f"{what}: {got} != {want}"
    return None


def first_failure(*reasons) -> str | None:
    return next((r for r in reasons if r), None)
