"""Distributed average-rank kernel: exact parity with pandas
rank(method='average') and strict row preservation, at a scale with many
buckets and heavy ties — the regime where a branch-unstable bucket id
(the round-2 spark_partition_id bug) silently dropped rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators import scoring


def _expected(vals: np.ndarray, ascending: bool) -> np.ndarray:
    return pd.Series(vals).rank(method="average", ascending=ascending).to_numpy()


def test_distributed_avg_rank_matches_pandas_both_directions(spark):
    n = 40_000
    # continuous scores + a heavy tie block + duplicated clusters
    vals = np.concatenate([
        (np.arange(n - 2000) * 2654435761 % 1000003) / 997.0,
        np.zeros(1000),                    # heavy tie at 0
        np.repeat([123.456, 777.0], 500),  # mid-range tie clusters
    ])
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, score double"
    ).repartition(32)

    for ascending in (True, False):
        out = scoring.distributed_avg_rank(
            df, "score", ascending=ascending
        ).orderBy("id")
        pdf = out.toPandas()
        assert len(pdf) == n  # every row survives the bucket join
        np.testing.assert_allclose(
            pdf["__avg_rank__"].to_numpy(), _expected(vals, ascending),
            rtol=0, atol=1e-9,
        )
        assert (pdf["__n__"] == float(n)).all()


def test_hazen_and_top_percent_on_continuous_scores(spark):
    n = 5000
    vals = np.sin(np.arange(n)) * 1000.0  # continuous, all distinct-ish
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, score double"
    )
    h = scoring.hazen_percentile_agg(df, "score", "pctl").orderBy("id").toPandas()
    exp = ((pd.Series(vals).rank(method="average") - 0.5) / n * 100.0).astype(
        np.float32
    )
    np.testing.assert_allclose(h["pctl"].to_numpy(), exp.to_numpy(), rtol=1e-6)

    t = scoring.top_percent_rank(df, "score", "tp").orderBy("id").toPandas()
    exp_tp = (
        pd.Series(vals).rank(method="average", ascending=False) / n * 100.0
    ).round(2)
    np.testing.assert_allclose(t["tp"].to_numpy(), exp_tp.to_numpy(), atol=5e-3)


def _check_both_directions(df, vals, layout=None):
    """distributed_avg_rank (given layout, or its own) equals pandas in
    both directions on a frame of (id, score) rows; NULL n on NULL rows."""
    for ascending in (True, False):
        pdf = (
            scoring.distributed_avg_rank(
                df, "score", ascending=ascending, layout=layout)
            .orderBy("id").toPandas()
        )
        assert len(pdf) == len(vals)
        exp = _expected(np.array(vals, dtype=float), ascending)
        np.testing.assert_allclose(
            pdf["__avg_rank__"].to_numpy(dtype=float), exp, rtol=0, atol=0)
        n = float(sum(v is not None for v in vals))
        np.testing.assert_array_equal(
            pdf["__n__"].to_numpy(dtype=float),
            np.where(np.isnan(exp), np.nan, n))


def test_distributed_avg_rank_single_shuffle_partition(spark):
    # regression: p=1 used to produce an empty bounds array → NULL pid →
    # every row dropped by the offsets join; with one bucket the whole
    # frame is one window partition
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        vals = [3.0, 1.0, 2.0, 2.0, -1.0, 3.0]
        df = spark.createDataFrame(
            list(enumerate(vals)), "id long, score double"
        )
        assert scoring.rank_boundaries(df, ["score"]) == {"score": []}
        _check_both_directions(df, vals)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("bounds", [
    [-9.0, -8.0, 50.0, 60.0],   # empty buckets below and above the data
    [1e9],                      # every row in the lowest bucket
    [-1e9],                     # every row in the highest bucket
    [1.0, 2.0, 3.0],            # values exactly on a boundary
    [3.0, 1.0, 1.0, 2.0, 2.0],  # unsorted, duplicated boundaries
])
def test_literal_offset_ranks_exact_for_any_boundaries(spark, bounds):
    # boundaries only balance the buckets: any array gives pandas ranks
    vals = [0.0, 1.0, 1.0, 2.0, 2.5, 3.0, 3.0, 3.0, 4.0, -1.0, None, 1.0]
    df = spark.createDataFrame(
        list(enumerate(vals)), "id long, score double"
    ).repartition(3)
    layout = scoring.rank_layouts(df, {"score": bounds})["score"]
    assert layout.n == 11 and len(layout.offsets) == len(bounds) + 1
    _check_both_directions(df, vals, layout)


def test_distributed_avg_rank_all_null_and_empty(spark):
    nulls = [None, None, None]
    df = spark.createDataFrame(list(enumerate(nulls)), "id long, score double")
    assert scoring.rank_layouts(df, {"score": [1.0]})["score"].n == 0
    _check_both_directions(df, nulls)
    empty = spark.createDataFrame([], "id long, score double")
    _check_both_directions(empty, [])
    assert scoring.hazen_percentile_agg(empty, "score", "p").count() == 0


def test_distributed_avg_rank_null_scores_pandas_semantics(spark):
    # nulls get a NULL rank and do not count toward n (pandas rank)
    df = spark.createDataFrame(
        [(0, 5.0), (1, None), (2, 3.0), (3, None)], "id long, score double"
    )
    out = scoring.distributed_avg_rank(df, "score").orderBy("id").toPandas()
    assert len(out) == 4
    assert out.loc[0, "__avg_rank__"] == 2.0 and out.loc[2, "__avg_rank__"] == 1.0
    assert pd.isna(out.loc[1, "__avg_rank__"]) and pd.isna(out.loc[3, "__avg_rank__"])
    assert out.loc[0, "__n__"] == 2.0


def test_jaccard_duplicate_candidate_pairs_are_deduped(spark):
    from anomaly_detector_faironchain_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e")], "doc_id long, text string"
    )
    sh = dedup.shingles(df, "doc_id", "text", n=2)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 1)], "id_a long, id_b long"  # duplicated
    )
    out = dedup.jaccard_for_pairs(sh, pairs).collect()
    assert len(out) == 1
    assert abs(out[0].jaccard - 2 / 4) < 1e-12  # {a b, b c} of 3+3 shingles


def test_distributed_avg_rank_hypothesis_property(spark):
    """Property check over adversarial small inputs: arbitrary floats
    with forced duplicates, negatives, and denormal-ish magnitudes must
    rank exactly like pandas in both directions."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    finite = st.floats(
        allow_nan=False, allow_infinity=False, width=64,
        min_value=-1e12, max_value=1e12,
    )

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(finite, min_size=1, max_size=60), st.booleans())
    def check(vals, ascending):
        vals = vals + vals[: len(vals) // 2]  # force ties across buckets
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)],
            "id long, score double",
        ).repartition(7)
        pdf = (
            scoring.distributed_avg_rank(df, "score", ascending=ascending)
            .orderBy("id").toPandas()
        )
        assert len(pdf) == len(vals)
        np.testing.assert_allclose(
            pdf["__avg_rank__"].to_numpy(),
            _expected(np.array(vals), ascending),
            rtol=0, atol=1e-9,
        )

    check()
