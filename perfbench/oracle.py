"""Correctness checks: responses against DuckDB oracles.

Both sides are reduced to a sorted list of row reprs — label values in
the oracle's key order, the timestamp, and the value quantized the way
the catalog quantizes (``floor(v·1e4 + 0.5)/1e4``, NaN and |v| ≥ 1e12
passed through) — so a mismatch at the 4th decimal is a real error,
except at an exact quantization tie (see :func:`matches`).
"""

from __future__ import annotations

import math
import os

import duckdb


def quant(v: float) -> float:
    if math.isnan(v) or abs(v) >= 1e12:
        return v
    return math.floor(v * 10000.0 + 0.5) / 10000


def connect(data_dir: str, tables=("events", "documents", "embeddings")):
    con = duckdb.connect()
    # oracles run beside the JVM's start-up; two threads take about as
    # long as four and leave the JVM the other cores
    con.execute("SET threads=2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(rows) -> list[str]:
    return sorted(repr(tuple(r)) for r in rows)


def response_rows(resp: dict, keys, raw: bool = False) -> list[tuple]:
    """Matrix response → (label values..., ts, value) rows, the value
    quantized unless ``raw``."""
    q = float if raw else (lambda v: quant(float(v)))
    out = []
    for series in resp["data"]["result"]:
        labels = tuple(series["metric"].get(k) for k in keys)
        for ts, v in series["values"]:
            out.append(labels + (int(ts), q(v)))
    return out


def at_tie(v: float) -> bool:
    """``v`` lies within float error of a quantization tie (x.xxxx5)."""
    if math.isnan(v) or abs(v) >= 1e12:
        return False
    x = v * 10000.0 + 0.5
    return abs(x - round(x)) <= 1e-9 * max(1.0, abs(x))


def matches(resp: dict, keys, want: list[tuple]) -> bool:
    """Response equals the oracle rows after quantization.  A value that
    sits within float error of a quantization tie may round either way:
    the engine sums in double precision where some oracles sum in
    DECIMAL, and at an exact tie (e.g. 3/32 = 0.09375) a last-bit
    difference flips the 4th decimal.  Any other difference fails."""
    raw = response_rows(resp, keys, raw=True)
    got = [r[:-1] + (quant(r[-1]),) for r in raw]
    if canon(got) == canon(want):
        return True
    if len(got) != len(want):
        return False
    from collections import Counter

    extra_got = Counter(map(repr, got)) - Counter(map(repr, want))
    extra_want = Counter(map(repr, want)) - Counter(map(repr, got))
    want_by_key: dict[str, list[float]] = {}
    for r in want:
        if extra_want.get(repr(r)):
            want_by_key.setdefault(repr(r[:-1]), []).append(r[-1])
    for r_raw, r in zip(raw, got):
        if not extra_got.get(repr(r)):
            continue
        cands = want_by_key.get(repr(r[:-1]), [])
        hit = next(
            (w for w in cands
             if w is not None and at_tie(r_raw[-1]) and abs(w - r[-1]) <= 1.000001e-4),
            None,
        )
        if hit is None:
            return False
        cands.remove(hit)
        extra_got[repr(r)] -= 1
    return True


def oracle_rows(con, sql: str) -> list[tuple]:
    """Oracle rows with the timestamp as int and the value as float
    (some oracles compute in DECIMAL)."""
    return [
        tuple(r[:-2]) + (int(r[-2]), None if r[-1] is None else float(r[-1]))
        for r in con.execute(sql).fetchall()
    ]


