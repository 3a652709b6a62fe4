"""Query inputs of the read workloads and their oracles.

``PANEL_SPECS`` is the dashboard: each panel is a query text copied verbatim
from an oracle-backed catalog entry (``tests`` check the text still
appears in that entry's source), issued over the entry's own range and
step so the catalog oracle is also the panel's oracle.

``adhoc_queries`` draws distinct M3QL and PromQL texts from a seed; each
comes with a DuckDB oracle built on ``sources.tables.oracle_samples_cte``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

LABEL_KEYS = ("name", "user", "region", "shard")


@dataclass(frozen=True)
class Query:
    lang: str  # "m3ql" | "promql"
    text: str
    start: int
    end: int
    step: int
    keys: tuple[str, ...]  # label keys of an output row, as the oracle names them
    oracle: str  # DuckDB SQL → rows (keys..., ts, quantized value)


#: (catalog entry, language, text, output label keys).  Narrow panels are
#: 4-series region sums (one a binary match); wide ones carry one series
#: per user (about 1.2-1.5k series; one a binary match with its probe).
PANEL_SPECS = [
    ("m3ql_union_sum", "m3ql", "fetch name:error | fetch name:click | sum region", ("region",)),
    ("m3ql_top_k_per_timestamp", "m3ql", "fetch name:error | _topKPerTimestamp 3", LABEL_KEYS),
    ("m3ql_divide_by_group_total", "m3ql",
     "fetch name:error | divide(fetch name:error | sum region) region", LABEL_KEYS),
    ("promql_sum_by_rate", "promql", "sum by (region) (rate(error[3h]))", ("region",)),
    ("promql_binary_on", "promql",
     "sum by (region) (error) / on(region) sum by (region) (click)", ("region",)),
    ("promql_avg_over_time", "promql", "avg_over_time(view[3h])", LABEL_KEYS),
]


def panels() -> list[Query]:
    from time_series_db_spark.catalog import ORACLES
    from time_series_db_spark.sources import (
        DEFAULT_STEP_MS,
        EVENTS_MAX_TS,
        EVENTS_MIN_TS,
    )

    return [
        Query(lang, text, EVENTS_MIN_TS, EVENTS_MAX_TS, DEFAULT_STEP_MS,
              keys, ORACLES[entry])
        for entry, lang, text, keys in PANEL_SPECS
    ]


# ---------------------------------------------------------------------------
# ad-hoc generator
# ---------------------------------------------------------------------------

METRICS = ("signup", "click", "error", "view", "purchase")
#: label → the same value as an expression over the raw events columns
#: (the form ``oracle_samples_cte``'s ``extra_where`` is applied in)
RAW_LABEL_SQL = {
    "name": "event_type",
    "user": "CAST(user_id AS VARCHAR)",
    "region": "('r' || CAST(user_id % 4 AS VARCHAR))",
    "shard": "('r' || CAST(user_id % 2 AS VARCHAR))",
}
STEPS_MIN = (1, 5, 10, 15, 30, 60)
#: grid points per query: bounds the output size at any step
POINTS = (48, 96, 192, 288)
AGGS = ("sum", "min", "max")


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _filters(r: random.Random):
    """One label filter in three spellings: (m3 fragment, prom matcher,
    raw-events SQL predicate).  Wildcards/regexes only match user ids by
    leading digit, so every pattern is valid in Lucene, RE2 and DuckDB."""
    kind = r.choice(("exact", "wild", "neg", "regex", "nregex", "none"))
    if kind == "exact":
        region = f"r{r.randrange(4)}"
        return (f" region:{region}", f'region="{region}"',
                f"{RAW_LABEL_SQL['region']} = {_sql_str(region)}")
    d = str(r.randrange(1, 10))
    if kind == "wild":
        return (f" user:{d}*", f'user=~"{d}.*"',
                f"regexp_full_match({RAW_LABEL_SQL['user']}, '{d}.*')")
    if kind == "neg":
        shard = f"r{r.randrange(2)}"
        return (f" shard:!{shard}", f'shard!="{shard}"',
                f"NOT ({RAW_LABEL_SQL['shard']} = {_sql_str(shard)})")
    if kind in ("regex", "nregex"):
        d2 = str(r.choice([x for x in range(1, 10) if str(x) != d]))
        neg = kind == "nregex"
        return (f" user:{'!' if neg else ''}{{{d}*,{d2}*}}",
                f'user{"!~" if neg else "=~"}"{d}.*|{d2}.*"',
                f"{'NOT ' if neg else ''}regexp_full_match({RAW_LABEL_SQL['user']}, '({d}|{d2}).*')")
    return ("", "", "")


def adhoc_query(r: random.Random) -> Query:
    """One random query: metric, filter, template, step, sub-range."""
    from time_series_db_spark.catalog import sql_quant
    from time_series_db_spark.sources import EVENTS_MAX_TS, EVENTS_MIN_TS
    from time_series_db_spark.sources.tables import oracle_samples_cte

    metric = r.choice(METRICS)
    m3f, promf, raw = _filters(r)
    step = r.choice(STEPS_MIN) * 60_000
    n = r.choice(POINTS)
    span = n * step
    slots = (EVENTS_MAX_TS - EVENTS_MIN_TS - span) // step
    start = EVENTS_MIN_TS + r.randrange(max(1, slots)) * step
    end = start + span
    where = f"event_type = {_sql_str(metric)}" + (f" AND ({raw})" if raw else "")
    template = r.choice(("m3_agg", "m3_moving", "m3_scale", "prom_agg", "prom_over_time", "prom_sel"))
    agg = r.choice(AGGS)
    tag = r.choice(("region", "shard"))
    q = lambda e: sql_quant(e)  # noqa: E731
    if template == "m3_agg":
        text = f"fetch name:{metric}{m3f} | {agg} {tag}"
        keys = (tag,)
        sql = (f"WITH {oracle_samples_cte(step, start, end, where)} "
               f"SELECT {tag}, ts, {q(f'{agg}(value)')} FROM samples GROUP BY 1, 2")
        return Query("m3ql", text, start, end, step, keys, sql)
    if template == "m3_moving":
        k = r.randrange(2, 7)
        w = k * step
        text = f"fetch name:{metric}{m3f} | moving {k * step // 60_000}m {agg}"
        # [t - w, t) over the grid, emitted where the window holds a sample
        sql = (
            f"WITH {oracle_samples_cte(step, max(start - w, EVENTS_MIN_TS), end, where)},"
            f" grid AS (SELECT gs AS g FROM generate_series({start}, {end - step}, {step}) t(gs)),"
            f" sids AS (SELECT DISTINCT name, \"user\", region, shard FROM samples)"
            f" SELECT s.name, s.\"user\", s.region, s.shard, grid.g AS ts,"
            f" {q(f'{agg}(v.value)')} AS value"
            f" FROM sids s CROSS JOIN grid JOIN samples v"
            f" ON v.name = s.name AND v.\"user\" = s.\"user\" AND v.region = s.region"
            f" AND v.shard = s.shard AND v.ts >= grid.g - {w} AND v.ts < grid.g"
            f" GROUP BY 1, 2, 3, 4, 5"
        )
        return Query("m3ql", text, start, end, step, LABEL_KEYS, sql)
    if template == "m3_scale":
        c = r.choice((2, 3, 0.5))
        text = f"fetch name:{metric}{m3f} | scale {c}"
        sql = (f"WITH {oracle_samples_cte(step, start, end, where)} "
               f"SELECT name, \"user\", region, shard, ts, {q(f'value * {float(c)!r}::DOUBLE')} FROM samples")
        return Query("m3ql", text, start, end, step, LABEL_KEYS, sql)
    sel = f"{metric}{{{promf}}}" if promf else metric
    if template == "prom_agg":
        text = f"{agg} by ({tag}) ({sel})"
        sql = (f"WITH {oracle_samples_cte(step, start, end, where)} "
               f"SELECT {tag}, ts, {q(f'{agg}(value)')} FROM samples GROUP BY 1, 2")
        return Query("promql", text, start, end, step, (tag,), sql)
    if template == "prom_over_time":
        k = r.randrange(2, 7)
        rng = k * step
        fn = r.choice(("sum", "min", "max", "count"))
        text = f"{fn}_over_time({sel}[{rng // 60_000}m])"
        agg_sql = "CAST(count(value) OVER w AS DOUBLE)" if fn == "count" else f"{fn}(value) OVER w"
        # (t - range, t] over the aligned samples, emitted at sample points
        sql = (
            f"WITH {oracle_samples_cte(step, max(start - rng, EVENTS_MIN_TS), end, where)},"
            f" win AS (SELECT name, \"user\", region, shard, ts, {agg_sql} AS value FROM samples"
            f" WINDOW w AS (PARTITION BY name, \"user\", region, shard ORDER BY ts"
            f" RANGE BETWEEN {rng - step} PRECEDING AND CURRENT ROW))"
            f" SELECT name, \"user\", region, shard, ts, {q('value')} FROM win WHERE ts >= {start}"
        )
        return Query("promql", text, start, end, step, LABEL_KEYS, sql)
    text = sel
    sql = (f"WITH {oracle_samples_cte(step, start, end, where)} "
           f"SELECT name, \"user\", region, shard, ts, {q('value')} FROM samples")
    return Query("promql", text, start, end, step, LABEL_KEYS, sql)


def adhoc_queries(seed: int, n: int) -> list[Query]:
    """``n`` distinct ad-hoc queries (distinct text-and-range) for ``seed``."""
    r = random.Random(f"adhoc-{seed}")
    out: list[Query] = []
    seen = set()
    while len(out) < n:
        qy = adhoc_query(r)
        key = (qy.text, qy.start, qy.step)
        if key not in seen:
            seen.add(key)
            out.append(qy)
    return out
