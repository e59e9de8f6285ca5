"""Order-free digests of query outputs, and the check against the pins.

A digest canonicalises a result the way the oracle parity tests compare
one (tests/test_oracle_parity.py): columns in name order, rows sorted by
their repr, NaN as a string, dates and timestamps as ISO strings. On top
of that it folds the cases where ``==`` holds but ``repr`` differs
(-0.0 against 0.0, structs as Spark ``Row`` against DuckDB ``dict``), so
a Spark ``collect()`` and a DuckDB ``fetchall()`` of equal results hash
the same.
"""

from __future__ import annotations

import datetime
import hashlib


def _canon(v):
    if isinstance(v, float):
        return "NaN" if v != v else v + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (a struct)
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted(((_canon(k), _canon(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(columns: list[str], rows) -> dict:
    """``{"rows": n, "sha256": hex}`` of a result, independent of row and
    column order."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((repr(tuple(_canon(r[i]) for i in idx)) for r in rows))
    h = hashlib.sha256(repr([columns[i] for i in idx]).encode())
    for line in canon:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(canon), "sha256": h.hexdigest()}


def check(got: dict[str, dict | None], pins: dict[str, dict]) -> dict[str, str]:
    """Compare output digests with their pins.

    Args:
        got: key -> digest, or None when the key produced no output.
        pins: key -> pinned digest.

    Returns:
        key -> reason, for every key in ``got`` that does not match its pin.
    """
    bad = {}
    for key, d in got.items():
        pin = pins.get(key)
        if pin is None:
            bad[key] = "no pin"
        elif d is None:
            bad[key] = "no output"
        elif d != pin:
            bad[key] = f"got {d['rows']} rows {d['sha256'][:12]}, pinned {pin['rows']} rows {pin['sha256'][:12]}"
    return bad
