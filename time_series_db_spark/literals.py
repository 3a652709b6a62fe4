"""Driver values as Spark plans: the one SQL-literal renderer and the
literal frame built on it.

Small per-request values computed on the driver (a mock series, a bloom
bitmap, a model table, an MMR pick list) enter a query as a pure
expression plan — the reference keeps them on the coordinator's request
heap.  Two properties decide the form:

- ``createDataFrame`` gives an RDD-backed frame whose ``semanticHash``
  changes on every call, so ``probe_memo``/``persist_tracked`` never
  rehydrate anything downstream of it on a warm re-run (r14:
  ``m3ql_seasonal_auto`` 1.49 s → 0.44 s once its mock fetch stopped
  using it).  A literal plan hashes identically across identical calls.
- a per-element ``F.lit``/``F.array`` build costs one py4j round trip
  PER ELEMENT; one ``F.expr`` string is a single round trip.

SQL text grows with the value, so above :data:`MAX_LITERAL_ELEMS`
rendered values :func:`literal_frame` falls back to ``createDataFrame``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

#: most rendered values (array elements count singly) one literal frame
#: carries; above it the frame is a ``createDataFrame``
MAX_LITERAL_ELEMS = 1 << 14

_SCALARS = ("double", "int", "bigint", "string")


def _renderable(t: str) -> bool:
    while t.startswith("array<"):
        t = t[len("array<"):-1]
    return t in _SCALARS


def _plain(v, t: str):
    """``v`` coerced to the JSON value Spark reads back as type ``t``."""
    if v is None:
        return None
    if t.startswith("array<"):
        return [_plain(x, t[len("array<"):-1]) for x in v]
    if t == "double":
        return float(v)
    if t in ("int", "bigint"):
        return int(v)
    return v


def lit_array(vals, elem_type: str = "double") -> Column:
    """``vals`` as one ``array<elem_type>`` literal column.  Element
    types: ``double``, ``int``, ``bigint``, ``string`` and ``array<…>``
    of those; ``None`` is NULL.

    The SQL text is one ``from_json`` over the value's JSON, embedded as
    UTF-8 hex so no quoting or escaping rule applies; the optimizer
    folds it to a literal array.  ``json.dumps`` writes doubles by exact
    ``repr`` and non-finite ones as ``NaN``/``±Infinity``, which Spark's
    JSON reader accepts by default.  Per-element ``1.5D`` literals would
    also be exact, but Spark's parser range-checks each through
    ``BigDecimal``: 16,000 of them take ~1.2 s to analyze."""
    if not _renderable(elem_type):
        raise ValueError(f"no literal form for type {elem_type!r}")
    t = f"array<{elem_type}>"
    payload = json.dumps(_plain(list(vals), t)).encode("utf-8").hex()
    return F.expr(f"from_json(CAST(X'{payload}' AS STRING), '{t}')")


def _n_values(v) -> int:
    if isinstance(v, (list, tuple)) and v:
        return sum(_n_values(x) for x in v)
    return 1


def literal_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` under DDL ``schema`` as a literal plan: ``range(1)``,
    ``posexplode`` of the first column's :func:`lit_array`, then
    ``element_at`` of every other column's.  Above
    :data:`MAX_LITERAL_ELEMS` values, or with a column type that has no
    literal form, returns ``spark.createDataFrame(rows, schema)``."""
    rows = [tuple(r) for r in rows]
    fields = DataType.fromDDL(schema).fields
    types = [f.dataType.simpleString() for f in fields]
    if (
        not all(map(_renderable, types))
        or sum(_n_values(v) for r in rows for v in r) > MAX_LITERAL_ELEMS
    ):
        return spark.createDataFrame(rows, schema)
    cols = [lit_array([r[k] for r in rows], t) for k, t in enumerate(types)]
    return spark.range(1).select(
        F.posexplode(cols[0]).alias("__pos", "__v0")
    ).select(
        F.col("__v0").alias(fields[0].name),
        *[
            F.element_at(c, F.col("__pos") + 1).alias(f.name)
            for c, f in zip(cols[1:], fields[1:])
        ],
    )
