"""Correctness checks: results against generator truth and DuckDB.

Every check returns a list of human-readable mismatches; an empty list
means the output is correct. The workloads count a non-empty list as
one failed operation instead of aborting the run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from typing import Any, Iterable, Sequence

REL_TOL = 1e-9  # floating sums: same values, different summation order


def close(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def compare_truth(expected: dict[str, Any], actual: dict[str, Any], where: str) -> list[str]:
    """Expected vs actual scalar facts (row counts, column sums, ...)."""
    out = []
    for k, want in expected.items():
        got = actual.get(k)
        if isinstance(want, (int, float)) and isinstance(got, decimal.Decimal):
            got = float(got) if isinstance(want, float) else int(got)
        if not close(want, got):
            out.append(f"{where}.{k}: expected {want!r}, got {got!r}")
    return out


# ---------------------------------------------------------------------------
# engine-independent result canonicalisation
# ---------------------------------------------------------------------------
def canon_value(v: Any) -> Any:
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v
    return str(v)


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, "") if x is None else (1, f"{x:.6g}") if isinstance(x, float) else (1, repr(x))
        for x in row
    )


def canonical(cols: Sequence[str], rows: Iterable[Sequence[Any]]) -> tuple[tuple, list[tuple]]:
    """Columns lower-cased and sorted by name; rows re-ordered to match
    and sorted, so the result compares as a multiset."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    canon = [tuple(canon_value(r[i]) for i in order) for r in rows]
    canon.sort(key=_sort_key)
    return tuple(names[i] for i in order), canon


def result_hash(cols: Sequence[str], rows: Iterable[Sequence[Any]]) -> str:
    """Hash of the canonical multiset; floats at 9 significant digits."""
    names, canon = canonical(cols, rows)
    h = hashlib.sha256(repr(names).encode())
    for r in canon:
        h.update(repr(tuple(f"{x:.9g}" if isinstance(x, float) else x for x in r)).encode())
    return h.hexdigest()


def compare_results(
    got_cols: Sequence[str],
    got_rows: Sequence[Sequence[Any]],
    want_cols: Sequence[str],
    want_rows: Sequence[Sequence[Any]],
    where: str,
) -> list[str]:
    """Spark result vs reference result. Equal hashes settle it; when
    they differ, floats are compared with a relative tolerance so that
    a last-digit summation-order difference is not reported as wrong."""
    if result_hash(got_cols, got_rows) == result_hash(want_cols, want_rows):
        return []
    gn, gr = canonical(got_cols, got_rows)
    wn, wr = canonical(want_cols, want_rows)
    if gn != wn:
        return [f"{where}: columns {gn} != reference {wn}"]
    if len(gr) != len(wr):
        return [f"{where}: {len(gr)} rows != reference {len(wr)}"]
    for a, b in zip(gr, wr):
        if len(a) != len(b) or not all(close(x, y) for x, y in zip(a, b)):
            return [f"{where}: row {a!r} != reference {b!r}"]
    return []
