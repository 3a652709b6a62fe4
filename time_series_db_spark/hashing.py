"""Deterministic 64-bit column hash shared by the engine and the
pipeline toolkit."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column, seed: int | str = 0, fn: str = "md5") -> Column:
    """Deterministic 60-bit hash of a string column.

    ``md5`` variant: first 15 hex chars of md5("<seed>:<value>") as a
    BIGINT — portable across engines (DuckDB: ``('0x' || substr(md5(..),
    1, 15))::BIGINT``). ``xxhash64`` variant: Spark-native, for
    production runs where the oracle is not in the loop.
    """
    if fn == "xxhash64":
        return F.xxhash64(F.lit(str(seed)), col)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def sql_hash64(expr: str, seed: int | str = 0) -> str:
    """DuckDB rendering of :func:`hash64` (md5 variant)."""
    return f"('0x' || substr(md5('{seed}:' || ({expr})), 1, 15))::BIGINT"
