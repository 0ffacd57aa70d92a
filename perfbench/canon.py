"""Order-insensitive output digests and the failure count.

The comparison rules are those of the repository's reference harness,
``scripts/driver_sim.py``, imported from it rather than restated:
columns sorted by name as ``driver_sim.canon`` sorts them, and every cell
normalised by ``driver_sim.norm_cell`` (floats tagged so an int never
equals a float, NaN equal to NaN, a non-scalar cell raised as
``NonScalarCell``). The digest here only turns the normalised rows into
``[columns, rows, sha256 of the sorted row tokens]``, so the oracle digests
can be cached between runs, and two frames get the same digest exactly when
``driver_sim`` calls them equal. It normalises column by column and sorts
the row tokens instead of calling ``canon``, whose row sort builds a string
key per cell and takes about three times as long on a 100k-row output.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from driver_sim import NonScalarCell, norm_cell  # noqa: E402

__all__ = ["NonScalarCell", "count_failures", "digest", "invocation_failed"]


def _token(v) -> str:
    """A string for one cell as ``driver_sim.norm_cell`` leaves it: cells
    that compare equal there give the same string."""
    if v is None:
        return "N"
    if isinstance(v, tuple):  # norm_cell's ("f", value) float tag
        return "f:nan" if v[1] == "nan" else f"f:{v[1] + 0.0!r}"
    if isinstance(v, (bool, int)):
        return f"i:{int(v)}"
    if isinstance(v, decimal.Decimal):
        return f"i:{int(v)}" if v == v.to_integral_value() else f"d:{v.normalize()}"
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):  # pd.NaT included: it is kept as is
        return "t:" + v.isoformat()
    if isinstance(v, dt.date):
        return "D:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "y:" + bytes(v).hex()
    return f"o:{type(v).__name__}:{v!r}"


def digest(df) -> list:
    """Order-insensitive digest ``[columns, rows, sha256]`` of a result frame
    (a list, so it compares equal after a JSON round trip). Raises
    NonScalarCell."""
    cols = sorted(df.columns)
    columns = [[_token(norm_cell(v)) for v in df[c].tolist()] for c in cols]
    h = hashlib.sha256()
    for r in sorted("\x1f".join(row) for row in zip(*columns)):
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return [cols, len(df), h.hexdigest()]


def invocation_failed(inv: dict, oracle: dict[str, list | str | None]) -> bool:
    """An invocation fails when it raised (its record names the phase) or
    when its output digest differs from the oracle's. ``oracle[op]`` is the
    oracle digest, an error string when the oracle itself failed (every
    invocation of that op fails), or None for an op with no oracle SQL (it
    passes when it did not raise)."""
    if inv.get("raised"):
        return True
    want = oracle.get(inv["op"], "no oracle entry")
    if isinstance(want, str):
        return True
    return want is not None and inv["digest"] != want


def count_failures(invocations: list[dict], oracle: dict[str, list | str | None]) -> tuple[int, int]:
    """``(attempted, failed)`` over the run's op invocations; ``fail_ratio``
    is failed / attempted."""
    failed = sum(invocation_failed(inv, oracle) for inv in invocations)
    return len(invocations), failed
