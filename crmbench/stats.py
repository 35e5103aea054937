"""Pure helpers: latency summaries, span self time and result hashing."""

from __future__ import annotations

import decimal
import hashlib
import math
import statistics
from dataclasses import dataclass


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Tail:
    value: float
    percentile: float  # 0..100
    beyond: int  # executions slower than ``value``
    n: int


#: executions a tail value must have beyond it, once a run has enough of them
MIN_BEYOND = 10


def tail(values: list[float]) -> Tail:
    """The highest percentile with at least ``min(MIN_BEYOND, n // 10)``
    executions beyond it.

    Over ``n`` sorted samples the value at index ``k`` has ``n - 1 - k``
    samples beyond it. From 100 samples on, ``MIN_BEYOND`` executions lie
    beyond the value. With fewer, a fixed ``MIN_BEYOND`` would pull the value
    toward the median, and at 11 samples or fewer down to the minimum, so the
    rule keeps one execution beyond it per ten samples (about p90). Below 10
    samples that is the maximum.
    """
    if not values:
        raise ValueError("tail of an empty sample")
    xs = sorted(values)
    n = len(xs)
    k = n - 1 - min(MIN_BEYOND, n // 10)
    pct = 100.0 * k / (n - 1) if n > 1 else 100.0
    return Tail(xs[k], pct, n - 1 - k, n)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover.

    Children of one parent may overlap (threads), so their intervals are
    merged before subtracting.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _cell(v) -> str:
    """One cell in the canonical form of ``tools/check_correctness.py``:
    numbers compare by float value (exact bits), everything else by ``str``."""
    if v is None:
        return "None"
    if hasattr(v, "dtype") and getattr(v, "shape", None) == ():  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if isinstance(v, int) and abs(v) >= 2**53:
            return str(v)
        return repr(f + 0.0)  # -0.0 == 0.0 under the float compare
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_cell(x) for x in seq) + "]"
    return str(v)


def canonical_hash(df) -> str:
    """Order-insensitive hash of a pandas frame: columns by name, rows as a
    sorted multiset, cells by :func:`_cell`."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"
