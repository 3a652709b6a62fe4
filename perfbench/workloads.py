"""The workloads: one closed-loop client each, waiting for every reply.

The runner calls, in order: ``prepare`` (inputs from the seed,
untimed), ``oracles`` (expected answers, while the engine starts),
``setup`` (timed as ``setup_s``), ``warmup`` (untimed first calls; the
corpus entries' cold times come from here) and ``round(i)`` — the
requests of refresh round ``i``, which the runner times.  ``verify``
runs after the timed loop and returns the requests whose response was
wrong.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from perfbench import datagen, oracle, queries


@dataclass
class Request:
    kind: str  # label for traces ("m3ql", "promql", "catalog", ...)
    run: object  # callable(tracer | None) -> response
    key: object = None  # identifies the expected answer for ``verify``


def _service_call(src, q: queries.Query):
    from time_series_db_spark import service

    fn = service.m3ql_query_range if q.lang == "m3ql" else service.promql_query_range
    return fn(src, q.text, q.start, q.end, q.step)


class Workload:
    name = ""
    #: percentile reported as ``query_tail_ms`` (recorded in BENCHMARK.json)
    tail_pct = 75
    #: nominal seconds per round: a run of ``--seconds`` times
    #: ``round(seconds / round_s)`` whole rounds
    round_s = 5.0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.data_dir = os.path.join(work, "data")

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        self.spark = spark

    def teardown(self) -> None:
        pass

    def warmup(self) -> None:
        """Untimed first calls, one at a time."""

    def oracles(self) -> None:
        """Compute expected answers from the inputs alone (no engine);
        the runner overlaps this with the engine's start-up."""

    def round(self, i: int) -> list[Request]:
        raise NotImplementedError

    def verify(self, done: list[tuple[Request, object]]) -> list[Request]:
        raise NotImplementedError

    def layer_extra(self) -> dict[str, float]:
        """Run-level layer metrics this workload measures itself."""
        return {}


class Dashboard(Workload):
    """Round-robin refresh of the fixed panel set over the events table."""

    name = "dashboard"

    def prepare(self):
        datagen.write_tables(self.seed, self.data_dir, ("events",))
        self.panels = queries.panels()

    def setup(self, spark):
        from time_series_db_spark.sources.m3source import EventsSource

        self.spark = spark
        self.src = EventsSource(spark, self.data_dir)

    def warmup(self):
        for q in self.panels:
            _service_call(self.src, q)

    def round(self, i):
        return [
            Request(q.lang, lambda tr, q=q: _service_call(self.src, q), key=j)
            for j, q in enumerate(self.panels)
        ]

    def oracles(self):
        con = oracle.connect(self.data_dir, ("events",))
        self.expected = [oracle.oracle_rows(con, q.oracle) for q in self.panels]

    def verify(self, done):
        return [
            req for req, resp in done
            if not oracle.matches(resp, self.panels[req.key].keys, self.expected[req.key])
        ]


class Adhoc(Workload):
    """Distinct seeded texts, each issued once: every request is cold."""

    name = "adhoc"
    round_s = 0.5
    #: more than a run can issue, so the loop never repeats a text
    N = 400
    N_WARM = 3

    def prepare(self):
        datagen.write_tables(self.seed, self.data_dir, ("events",))
        self.queries = queries.adhoc_queries(self.seed, self.N + self.N_WARM)

    def setup(self, spark):
        from time_series_db_spark.sources.m3source import EventsSource

        self.spark = spark
        self.src = EventsSource(spark, self.data_dir)

    def warmup(self):
        for q in self.queries[self.N:]:
            _service_call(self.src, q)

    def round(self, i):
        q = self.queries[i % self.N]
        return [Request(q.lang, lambda tr: _service_call(self.src, q), key=i % self.N)]

    def verify(self, done):
        con = oracle.connect(self.data_dir, ("events",))
        bad = []
        for req, resp in done:
            q = self.queries[req.key]
            if not oracle.matches(resp, q.keys, oracle.oracle_rows(con, q.oracle)):
                bad.append(req)
        return bad


#: catalog entries of the corpus batch, each reaching a site later work
#: rewrites: BPE merges / connected components / MMR (bounded driver
#: paths) and the bloom / ``ann._lit_array`` / mock-fetch SQL literals
CORPUS_ENTRIES = [
    "text_bpe_merges",
    "dedup_cluster_survivors",
    "search_mmr",
    "decontaminate_bloom",
    "ann_cosine_topk_int8",
    "m3ql_mock_fetch_periodic",
]


class CorpusBatch(Workload):
    """Catalog entries without a query text, built and collected as the
    catalog's differential tests run them, each checked against its
    oracle."""

    name = "corpus_batch"
    round_s = 7.5
    #: untimed warm rounds after the cold one: the next two rounds still
    #: ran 10-50 % slower than later ones, by an amount that differed
    #: from run to run, so timing them made whole runs disagree
    WARM_ROUNDS = 2

    def prepare(self):
        datagen.write_tables(self.seed, self.data_dir)

    def setup(self, spark):
        from time_series_db_spark.catalog import QUERIES

        self.spark = spark
        self.entries = [QUERIES[n] for n in CORPUS_ENTRIES]
        self.first_call_ms: dict[str, float] = {}

    def _run(self, j, tracer):
        fn = self.entries[j]
        if tracer is None:
            return fn(self.spark, self.data_dir).collect()
        df = tracer.call("catalog.build", fn, self.spark, self.data_dir)
        return tracer.call("catalog.action", df.collect)

    def warmup(self):
        for j, name in enumerate(CORPUS_ENTRIES):
            t0 = time.perf_counter()
            self._run(j, None)
            self.first_call_ms[name] = (time.perf_counter() - t0) * 1e3
        for _ in range(self.WARM_ROUNDS):
            for j in range(len(CORPUS_ENTRIES)):
                self._run(j, None)

    def round(self, i):
        return [
            Request("catalog", lambda tr, j=j: self._run(j, tr), key=j)
            for j in range(len(CORPUS_ENTRIES))
        ]

    def oracles(self):
        from time_series_db_spark.catalog import ORACLES

        con = oracle.connect(self.data_dir)
        self.expected = [
            oracle.canon(con.execute(ORACLES[name]).fetchall())
            for name in CORPUS_ENTRIES
        ]

    def verify(self, done):
        return [req for req, rows in done if oracle.canon(rows) != self.expected[req.key]]

    def layer_extra(self):
        import statistics

        vals = list(self.first_call_ms.values())
        return {"catalog.first_call_ms": statistics.median(vals) if vals else 0.0}


class Ingest(Workload):
    """Land a scrape batch, wait for its commit, then read it back."""

    name = "ingest"
    round_s = 2.5
    #: read window: the last three batches' worth of scrapes
    WINDOW_MS = 3 * datagen.BATCH_MS
    COMMIT_TIMEOUT_S = 60.0
    #: untimed cycles before the timed ones, the first cold: the reads
    #: kept getting faster for about ten cycles (2.0-2.1 s a read pair
    #: in the first cycles after the cold one, 1.3-1.5 s from the tenth),
    #: and timing that slope made whole runs disagree
    WARM_CYCLES = 6

    def prepare(self):
        self.n_setups = 0

    def setup(self, spark):
        from time_series_db_spark.sources.m3source import MetricsSource
        from time_series_db_spark.streaming.ingest import start_ingest

        self.spark = spark
        self.n_setups += 1
        base = os.path.join(self.work, f"ingest{self.n_setups}")
        self.landing = os.path.join(base, "landing")
        self.store = os.path.join(base, "store")
        os.makedirs(self.landing)
        self.stream = start_ingest(
            spark, self.landing, self.store,
            checkpoint_dir=os.path.join(base, "checkpoint"),
        )
        self.src = MetricsSource(spark, self.store)
        self.batches: list[dict] = []
        self.kept: dict[tuple, float] = {}  # (labels, ts) -> value

    def teardown(self):
        stream = getattr(self, "stream", None)
        if stream is not None:
            stream.stop()
            stream.awaitTermination(30)
            self.stream = None

    # -- one cycle ---------------------------------------------------------
    def _land(self, k: int) -> dict:
        docs, kept = datagen.ingest_batch(self.seed, k)
        t_base = datagen.batch_start(k)
        n_before = len(self.kept)
        for d in docs:
            if d["timestamp"] >= t_base:
                self.kept.setdefault((d["labels"], d["timestamp"]), d["value"])
        if len(self.kept) - n_before != kept:
            raise RuntimeError(f"generator kept-count mismatch in batch {k}")
        rec = {"k": k, "kept": kept, "last_ts": t_base + datagen.BATCH_MS - datagen.SCRAPE_MS,
               "landed": time.time()}
        datagen.write_batch(os.path.join(self.landing, f"batch-{k:06d}.json"), docs)
        return rec

    def _wait_commit(self, rec: dict) -> None:
        """Poll the stream until a data batch past the last one appears."""
        import json
        from datetime import datetime

        seen = {b["batch_id"] for b in self.batches if "batch_id" in b}
        deadline = time.monotonic() + self.COMMIT_TIMEOUT_S
        while time.monotonic() < deadline:
            for p in self.stream.recentProgress:
                p = json.loads(p.json) if hasattr(p, "json") else p
                if p["numInputRows"] > 0 and p["batchId"] not in seen:
                    start = datetime.fromisoformat(
                        p["timestamp"].replace("Z", "+00:00")
                    ).timestamp()
                    rec["batch_id"] = p["batchId"]
                    rec["progress"] = p
                    rec["committed"] = start + p["durationMs"]["triggerExecution"] / 1e3
                    return
            time.sleep(0.005)
        raise TimeoutError(f"batch {rec['k']} not committed in {self.COMMIT_TIMEOUT_S}s")

    #: reads after each commit: (language, text, metric, group label,
    #: aggregation)
    READS = [
        ("m3ql", "fetch name:cpu | sum region", "cpu", "region", sum),
        ("promql", "max by (host) (mem)", "mem", "host", max),
    ]

    def _reads(self, rec: dict) -> list[queries.Query]:
        end = rec["last_ts"] + datagen.SCRAPE_MS
        start = end - self.WINDOW_MS
        return [
            queries.Query(lang, text, start, end, datagen.SCRAPE_MS, (key,), "")
            for lang, text, _m, key, _a in self.READS
        ]

    def _expected(self, j: int, q: queries.Query, upto_ts: int) -> list[tuple]:
        """Read ``j``'s answer from the samples of batches up to ``upto_ts``."""
        _l, _t, metric, key, agg = self.READS[j]
        groups: dict[tuple, list[float]] = {}
        for (labels, ts), v in self.kept.items():
            lab = dict(zip(labels.split()[::2], labels.split()[1::2]))
            if lab["name"] == metric and q.start <= ts < q.end and ts <= upto_ts:
                groups.setdefault((lab[key], ts), []).append(v)
        return [(g, ts, oracle.quant(agg(vs))) for (g, ts), vs in groups.items()]

    def _cycle(self, k: int) -> list[Request]:
        rec = self._land(k)
        self._wait_commit(rec)
        self.batches.append(rec)

        def read(q, first):
            resp = _service_call(self.src, q)
            if first:  # the first response after the commit holds the batch
                self.freshness_ms.append((time.time() - rec["landed"]) * 1e3)
            return resp

        return [
            Request(q.lang, lambda tr, q=q, j=j: read(q, j == 0), key=(j, q, rec))
            for j, q in enumerate(self._reads(rec))
        ]

    def warmup(self):
        self.freshness_ms: list[float] = []
        for k in range(self.WARM_CYCLES):
            for req in self._cycle(k):
                req.run(None)
        self.freshness_ms = []
        self.warm_batches = len(self.batches)

    def round(self, i):
        # landing + commit happen before the reads are handed out, so
        # their wall time counts in queries_per_s but not in latency
        return self._cycle(self.WARM_CYCLES + i)

    def verify(self, done):
        """A read is wrong when it differs from the samples visible at its
        batch, or when its batch committed another sample count than the
        generator expects (the stream's ``tsdb_ingestion`` observation),
        or — for the last batch — when the store's row count is off."""
        last = self.batches[-1]["k"] if self.batches else None
        store_ok = self.spark.read.parquet(self.store).count() == len(self.kept)
        bad = []
        for req, resp in done:
            j, q, rec = req.key
            om = (rec["progress"].get("observedMetrics") or {}).get("tsdb_ingestion", {})
            if (
                om.get("n_samples") != rec["kept"]
                or (rec["k"] == last and not store_ok)
                or not oracle.matches(resp, q.keys, self._expected(j, q, rec["last_ts"]))
            ):
                bad.append(req)
        return bad

    def layer_extra(self):
        import statistics

        recs = self.batches[self.warm_batches:] or self.batches
        prog = [r["progress"] for r in recs]

        def med(xs):
            return float(statistics.median(xs)) if xs else 0.0

        def dur(p, *keys):
            return sum(p["durationMs"].get(k, 0) for k in keys)

        land_commit = [(r["committed"] - r["landed"]) * 1e3 for r in recs]
        committed = sum(r["kept"] for r in recs)
        files, blocks, nbytes = store_layout(self.store)
        out = {
            "ingest.trigger_ms": med([dur(p, "triggerExecution") for p in prog]),
            "ingest.add_batch_ms": med([dur(p, "addBatch") for p in prog]),
            "ingest.planning_ms": med([dur(p, "queryPlanning") for p in prog]),
            "ingest.commit_ms": med([dur(p, "walCommit", "commitOffsets") for p in prog]),
            "ingest.list_ms": med([dur(p, "latestOffset") for p in prog]),
            "ingest.wait_ms": med([
                lc - dur(p, "triggerExecution") for lc, p in zip(land_commit, prog)
            ]),
            "ingest.accept_ratio": committed / max(1, sum(p["numInputRows"] for p in prog)),
            "ingest.state_rows": float(
                (prog[-1].get("stateOperators") or [{}])[0].get("numRowsTotal", 0)
            ) if prog else 0.0,
            "ingest.samples_per_s": committed / max(1e-9, sum(land_commit) / 1e3),
            "ingest.freshness_p50_ms": med(self.freshness_ms),
            "store.files": float(files),
            "store.files_per_block": files / max(1, blocks),
            "store.bytes": float(nbytes),
            "store.bytes_per_sample": nbytes / max(1, len(self.kept)),
        }
        out.update(self.compaction_probe())
        return out

    def compaction_probe(self) -> dict[str, float]:
        """``compact_blocks`` over a copy of the store's data files.  The
        live store is never compacted: the streaming file sink reads
        through its ``_spark_metadata`` log, which would still name the
        rewritten files, and every later read fails."""
        from time_series_db_spark.streaming.maintenance import compact_blocks

        copy = os.path.join(os.path.dirname(self.store), "compaction-copy")
        shutil.copytree(self.store, copy,
                        ignore=shutil.ignore_patterns("_spark_metadata", ".*"))
        t0 = time.perf_counter()
        done = compact_blocks(self.spark, copy)
        ms = (time.perf_counter() - t0) * 1e3
        written = sum(
            store_layout(os.path.join(copy, f"block={b}"))[2] for b in done
        )
        shutil.rmtree(copy)
        return {"maintenance.compact_ms": ms,
                "maintenance.bytes_rewritten": float(written)}


def store_layout(path: str) -> tuple[int, int, int]:
    """(data files, block directories, bytes on disk) of a metrics store,
    the sink's metadata log included in the bytes."""
    files = blocks = nbytes = 0
    for d, _, fs in os.walk(path):
        if os.path.basename(d).startswith("block="):
            blocks += 1
        for f in fs:
            if f.startswith("."):
                continue
            nbytes += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet"):
                files += 1
    return files, blocks, nbytes


WORKLOADS = {w.name: w for w in (Dashboard, Adhoc, Ingest, CorpusBatch)}
