"""Dual-path equivalence on dirty input.

Every "coordinator if small" decision in the package goes through
``cache.within_bound`` or ``cache.bounded_rows``.  For
each site the harness sets the site's bound so that the frame its probe
sees is bound + 1, bound and bound − 1 rows, and checks that the side
the input lands on never shows in the result:

* BPE training and connected components: the driver loop returns
  exactly what the distributed loop returns;
* token-table broadcast hints: the hint never changes a result;
* MMR and the flat ANN scans: above the bound the call refuses, at or
  below it the result is the same; MMR's selection equals the same
  greedy written as Spark rounds over ``dedup.cosine_expr``.

Inputs are dirty: NULL ids and elements, NaN, ±0.0 and zero vectors,
ragged vectors, empty frames, NULL and empty texts.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from time_series_db_spark import cache
from time_series_db_spark.pipeline import ann, bpe, dedup, retrieval, text

_HUGE = 2**31 - 2  # bound + 1 must fit the JVM int LIMIT takes

_harness = settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)


class _Probes:
    """Spy on ``cache.probe_memo``, which records the verdict of every
    ``within_bound`` / ``bounded_rows`` call as ``(kind, frame, fits)``."""

    def __init__(self, real):
        self.real = real
        self.calls: list = []

    def __call__(self, df, key, compute):
        fits = self.real(df, key, compute)
        if isinstance(key, tuple):
            self.calls.append((key[0], df, fits))
        return fits

    def answers(self, kind):
        return [fits for k, _, fits in self.calls if k == kind]


@pytest.fixture
def probes(monkeypatch):
    spy = _Probes(cache.probe_memo)
    monkeypatch.setattr(cache, "probe_memo", spy)
    return spy


def _across_bound(probes, kind, set_bound, run, n=None, build=None):
    """Results of ``run()`` keyed by size − bound ∈ {1, 0, −1}, where
    size is the row count of the frame the ``kind`` probe sees (found
    by one unbounded ``build()`` or ``run()`` when ``n`` is not given).
    Asserts the probe answered "fits" exactly at sizes bound and
    bound − 1."""
    if n is None:
        set_bound(_HUGE)
        probes.calls.clear()
        (build or run)()
        seen = [df for k, df, _ in probes.calls if k == kind]
        assert seen, f"no {kind} probe ran"
        n = seen[-1].count()
    out = {}
    for off in (1, 0, -1):
        set_bound(n - off)
        probes.calls.clear()
        out[off] = run()
        assert probes.answers(kind) == [off <= 0], (kind, n, off)
    return out


def _rows(df) -> list[str]:
    # repr, not tuple equality: NaN != NaN
    return sorted(repr(tuple(r)) for r in df.collect())


def _refused_or(fn):
    try:
        return fn()
    except ValueError as e:
        return ("refused", str(e).split(";")[0])


# ---------------------------------------------------------------------------
# strategies
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abAé😀", min_size=1, max_size=4)
_texts = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(["", "   ", "\t"]),
        st.tuples(
            st.lists(_word, max_size=5), st.sampled_from([" ", "  ", "\t "])
        ).map(lambda t: t[1].join(t[0])),
    ),
    max_size=6,
)
_elem = st.one_of(
    st.none(),
    st.sampled_from([0.0, -0.0, 1.0, -1.0, math.nan, math.inf]),
    st.floats(min_value=-8.0, max_value=8.0, allow_nan=False, width=16),
)
_vec = st.one_of(
    st.none(),
    st.lists(_elem, max_size=3),
    st.lists(st.sampled_from([0.0, -0.0]), min_size=1, max_size=3),
    st.lists(
        st.floats(min_value=-4.0, max_value=4.0, width=16), min_size=2, max_size=2
    ),
)


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


# ---------------------------------------------------------------------------
# BPE training: driver merge loop vs distributed per-round loop
# ---------------------------------------------------------------------------


def _check_bpe(docs, n_merges, probes, monkeypatch):
    def run():
        merges, wf = bpe.bpe_train(docs, n_merges=n_merges)
        return merges, _rows(wf.select("__w", "__f", "__seq"))

    out = _across_bound(
        probes,
        "bpe_train_bound",
        lambda b: monkeypatch.setattr(bpe, "_DRIVER_TRAIN_MAX_WORDS", b),
        run,
        n=bpe._word_freq(docs, "text").count(),
    )
    assert out[0] == out[-1] == out[1]


@_harness
@given(texts=_texts, n_merges=st.integers(min_value=1, max_value=2))
def test_bpe_sides_agree(spark, probes, monkeypatch, texts, n_merges):
    _check_bpe(_docs(spark, texts), n_merges, probes, monkeypatch)


def test_bpe_sides_agree_on_fixture_corpus(spark, probes, monkeypatch):
    from time_series_db_spark.sources import load_table

    _check_bpe(load_table(spark, SF_DIR, "documents"), 8, probes, monkeypatch)


# ---------------------------------------------------------------------------
# connected components: driver union-find vs distributed min-label loop
# ---------------------------------------------------------------------------


def _components(edges):
    """Reference: component = minimum reachable id over edges whose
    endpoints are both non-NULL; a NULL endpoint is one (NULL, NULL)
    node that joins nothing."""
    adj: dict = {}
    for a, b in edges:
        for v in (a, b):
            if v is not None:
                adj.setdefault(v, set())
        if a is not None and b is not None:
            adj[a].add(b)
            adj[b].add(a)
    out = []
    for v in adj:
        seen, todo = {v}, [v]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        out.append((v, min(seen)))
    if any(None in e for e in edges):
        out.append((None, None))
    return sorted(repr(t) for t in out)


_ids = st.one_of(st.none(), st.integers(min_value=0, max_value=9))


@_harness
@given(
    edges=st.lists(st.tuples(_ids, _ids), max_size=8),
    as_text=st.booleans(),
)
@example(edges=[(1, 2), (2, 3), (10, 11), (7, 7), (5, 3)], as_text=False)
def test_connected_components_sides_agree(
    spark, probes, monkeypatch, edges, as_text
):
    if as_text:  # string ids: "10" < "9", the UTF-8 binary order
        edges = [
            tuple(None if v is None else str(v) for v in e) for e in edges
        ]
    t = "string" if as_text else "long"
    df = spark.createDataFrame(edges, f"id_a {t}, id_b {t}")
    out = _across_bound(
        probes,
        "cc_edge_bound",
        lambda b: monkeypatch.setattr(dedup, "_CC_COORD_MAX_EDGES", b),
        lambda: _rows(dedup.connected_components(df)),
        n=len(edges),
    )
    assert out[0] == out[-1] == out[1] == _components(edges)


# ---------------------------------------------------------------------------
# token-table broadcast hints: the hint never changes a result
# ---------------------------------------------------------------------------


_TOKEN_SITES = {
    "tfidf_dfreq": lambda docs: text.tfidf_terms(docs, k=2),
    "kl_vocab_rows": text.kl_divergence,
}


@pytest.mark.parametrize("kind", sorted(_TOKEN_SITES))
@settings(_harness, max_examples=2)
@given(texts=_texts)
def test_token_broadcast_sides_agree(spark, probes, monkeypatch, kind, texts):
    docs = _docs(spark, texts)
    out = _across_bound(
        probes,
        kind,
        lambda b: monkeypatch.setattr(text, "MAX_BROADCAST_TOKEN_ROWS", b),
        lambda: _rows(_TOKEN_SITES[kind](docs)),
        build=lambda: _TOKEN_SITES[kind](docs),  # the probe runs at build
    )
    assert out[0] == out[-1] == out[1]


# ---------------------------------------------------------------------------
# MMR: driver cosine == cosine_expr; refusal only above max_shortlist
# ---------------------------------------------------------------------------


@settings(_harness, max_examples=12)
@given(pairs=st.lists(st.tuples(_vec, _vec), min_size=1, max_size=12))
def test_mmr_cosine_matches_cosine_expr(spark, pairs):
    df = spark.createDataFrame(pairs, "a array<double>, b array<double>")
    got = df.select(
        "a", "b", dedup.cosine_expr(F.col("a"), F.col("b")).alias("c")
    ).collect()
    for r in got:
        assert repr(retrieval._cosine(r["a"], r["b"])) == repr(r["c"]), (
            r["a"],
            r["b"],
        )


def _mmr_spark(short, embs, k, lam):
    """The MMR greedy as Spark rounds: cosine_expr sims, their running
    max as F.greatest (skips NULLs, NaN largest), score DESC then id
    ASC."""
    pool = short.withColumn("__i", F.monotonically_increasing_id()).join(
        embs, F.col("doc_id") == F.col("vec_id"), "left"
    ).select("__i", "doc_id", "rel", F.col("embedding").alias("v"))
    pool = pool.localCheckpoint(eager=True)
    picked: list = []
    rows = []
    for rank in range(1, k + 1):
        cand = pool.filter(~F.col("__i").isin(picked)) if picked else pool
        if picked:
            for j, p in enumerate(picked):
                cand = cand.crossJoin(
                    pool.filter(F.col("__i") == p).select(
                        F.col("v").alias(f"__s{j}")
                    )
                )
            sims = [
                dedup.cosine_expr(F.col("v"), F.col(f"__s{j}"))
                for j in range(len(picked))
            ]
            ms = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.coalesce(
                ms, F.lit(0.0)
            )
        else:
            score = F.lit(lam) * F.col("rel") - F.lit(0.0)
        best = (
            cand.withColumn("__score", score)
            .orderBy(F.desc("__score"), F.asc("doc_id"))
            .first()
        )
        if best is None:
            break
        picked.append(best["__i"])
        rows.append((best["doc_id"], best["rel"], best["__score"], rank))
    return sorted(repr(r) for r in rows)


_rel = st.one_of(
    st.none(),
    st.sampled_from([0.0, -0.0, math.nan, 1.0]),
    st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=16),
)


@_harness
@given(
    short=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 20)), _rel),
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    vecs=st.lists(_vec, min_size=6, max_size=6),
    k=st.integers(min_value=1, max_value=3),
    lam=st.sampled_from([0.0, 0.5, 1.0]),
)
def test_mmr_sides_agree(spark, probes, short, vecs, k, lam):
    sdf = spark.createDataFrame(short, "doc_id long, rel double")
    # vector ids unique; some shortlist ids have no vector at all
    ids = [i for i, _ in short if i is not None]
    emb_rows = [(i, v) for i, v in zip(ids, vecs) if i % 3 != 2]
    edf = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")

    def run(bound):
        return _refused_or(
            lambda: _rows(
                retrieval.mmr_rerank(
                    sdf, edf, k=k, lam=lam, max_shortlist=bound
                ).orderBy("rank")
            )
        )

    bound = {}
    out = _across_bound(
        probes,
        "mmr_shortlist",
        lambda b: bound.update(b=b),
        lambda: run(bound["b"]),
        n=len(short),
    )
    assert out[1][0] == "refused"
    assert out[0] == out[-1] == run(None) == _mmr_spark(sdf, edf, k, lam)


# ---------------------------------------------------------------------------
# flat ANN scans: refusal only above max_queries, same result at/below
# ---------------------------------------------------------------------------

_queries = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(100, 120)),
        st.lists(_elem, min_size=4, max_size=4),
        st.sampled_from([0, 1]),
    ),
    max_size=4,
)


def _ann_corpus(spark):
    rows = [
        (i, [float(i % 4), float(i // 4), 1.0 - (i % 2), 0.5 * i], i % 2)
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )


_ANN_SITES = {
    "adc_queries": lambda corpus, q, b: ann.pq_adc_topk(
        corpus, q, topk=2, m=2, k=4, train_iters=1, max_queries=b
    ),
    "hn_anchors": lambda corpus, q, b: ann.hard_negatives(
        corpus, q, k=2, max_queries=b
    ),
}


@pytest.mark.parametrize("kind", sorted(_ANN_SITES))
@settings(_harness, max_examples=2)
@given(queries=_queries)
def test_ann_flat_scans_refuse_only_above_bound(spark, probes, kind, queries):
    corpus = _ann_corpus(spark)
    qdf = spark.createDataFrame(
        queries, "vec_id long, embedding array<double>, label long"
    )
    bound = {}
    out = _across_bound(
        probes,
        kind,
        lambda b: bound.update(b=b),
        lambda: _refused_or(
            lambda: _rows(_ANN_SITES[kind](corpus, qdf, bound["b"]))
        ),
        n=len(queries),
    )
    assert out[1][0] == "refused"
    assert out[0] == out[-1]
