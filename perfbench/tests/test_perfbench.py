"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The ad-hoc oracle test runs the engine on the generated events table;
set ``SPARK_GRAFT_TEST_SF_DIR`` to also run it on a fixture directory
holding an ``events.parquet``.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, oracle, queries  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, percentile  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- tail percentile -----------------------------------------------------------

def test_percentile_interpolates_between_order_statistics():
    xs = [float(x) for x in range(1, 11)]  # 1..10
    assert percentile(xs, 50) == 5.5
    assert percentile(xs, 75) == 7.75
    assert percentile([3.0], 75) == 3.0
    assert percentile(xs, 100) == 10.0


def test_workload_tail_percentiles_are_recorded():
    whys = {w["name"]: w["why"] for w in _bench()["workloads"]}
    for name, why in whys.items():
        assert f"p{WORKLOADS[name].tail_pct}" in why


# -- metric names ------------------------------------------------------------

def test_metric_names_and_units_follow_the_charset():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m


def test_benchmark_json_matches_the_runner():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert all(w["name"] in WORKLOADS for w in bench["workloads"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


# -- generator determinism -------------------------------------------------------

def test_tables_are_a_function_of_the_seed():
    for make in datagen.TABLES.values():
        assert make(7).equals(make(7))
        assert not make(7).equals(make(8))


def test_adhoc_texts_are_a_function_of_the_seed():
    a = [(q.text, q.start, q.step) for q in queries.adhoc_queries(3, 40)]
    b = [(q.text, q.start, q.step) for q in queries.adhoc_queries(3, 40)]
    c = [(q.text, q.start, q.step) for q in queries.adhoc_queries(4, 40)]
    assert a == b
    assert a != c
    assert len(set(a)) == len(a)


def test_ingest_batches_are_a_function_of_the_seed():
    assert datagen.ingest_batch(5, 4) == datagen.ingest_batch(5, 4)
    assert datagen.ingest_batch(5, 4) != datagen.ingest_batch(6, 4)


def test_ingest_batch_expected_count_drops_dups_and_late():
    docs, kept = datagen.ingest_batch(5, datagen.FIRST_LATE_BATCH)
    t_base = datagen.batch_start(datagen.FIRST_LATE_BATCH)
    on_time = {(d["labels"], d["timestamp"]) for d in docs if d["timestamp"] >= t_base}
    late = [d for d in docs if d["timestamp"] <= t_base - datagen.LATE_BY_MS]
    assert kept == len(on_time) == len(datagen.ingest_series()) * datagen.SCRAPES
    assert late and len(docs) > kept + len(late)


# -- dashboard panels ------------------------------------------------------------

def test_panel_texts_are_verbatim_catalog_entries():
    from time_series_db_spark import catalog

    for entry, _lang, text, _keys in queries.PANEL_SPECS:
        fn = catalog.QUERIES[entry]
        src = inspect.getsource(inspect.unwrap(fn))
        assert repr(text)[1:-1] in src or text in src, entry
        assert entry in catalog.ORACLES


# -- ad-hoc oracles against the engine ------------------------------------------

def _data_dirs(tmp_path_factory):
    dirs = [datagen.write_tables(11, str(tmp_path_factory.mktemp("gen")), ("events",))]
    extra = os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
    if extra and os.path.exists(os.path.join(extra, "events.parquet")):
        dirs.append(extra)
    return dirs


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_adhoc_oracles_match_the_engine(spark, tmp_path_factory):
    from time_series_db_spark import service
    from time_series_db_spark.sources.m3source import EventsSource

    # one query per template, plus a seeded spread of filters and steps
    r = random.Random("templates")
    picked = {}
    while len(picked) < 6 or sum(len(v) for v in picked.values()) < 12:
        q = queries.adhoc_query(r)
        kind = (q.lang, q.text.split("(")[0].split("|")[-1].split()[0])
        picked.setdefault(kind, [])
        if len(picked[kind]) < 3:
            picked[kind].append(q)
    qs = [q for v in picked.values() for q in v]
    for d in _data_dirs(tmp_path_factory):
        src = EventsSource(spark, d)
        con = oracle.connect(d, ("events",))
        for q in qs:
            fn = service.m3ql_query_range if q.lang == "m3ql" else service.promql_query_range
            resp = fn(src, q.text, q.start, q.end, q.step)
            want = oracle.oracle_rows(con, q.oracle)
            assert oracle.matches(resp, q.keys, want), (d, q.text, q.start, q.step)


def test_tie_tolerance_only_covers_exact_ties():
    def resp(v):
        return {"data": {"result": [{"metric": {"region": "r0"}, "values": [[0, repr(v)]]}]}}

    tie_low = 0.09375 - 1e-17  # an exact tie, a last bit below it
    assert oracle.quant(tie_low) == 0.0937
    assert oracle.matches(resp(tie_low), ("region",), [("r0", 0, 0.0938)])
    assert not oracle.matches(resp(0.09374), ("region",), [("r0", 0, 0.0938)])
    assert not oracle.matches(resp(0.5), ("region",), [("r0", 0, 0.5001)])
