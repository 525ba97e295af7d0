"""Normalization/combination edge cases per FIXTURES.md §4, hand-computed
against the reference formulas (MinMax/L2/ZScore/RRF techniques +
arithmetic/geometric/harmonic/rrf combination)."""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from neural_search_spark.engine import spec_from_json
from neural_search_spark.query.hybrid import (
    LowerBound,
    combine,
    hybrid_explain,
    hybrid_topk,
    normalize,
    rerank_by_field,
    collapse_top1,
)


def tall(rows):
    return pd.DataFrame(rows, columns=["subq", "doc_id", "score"])


def as_map(df, key=("subq", "doc_id"), val="norm_score"):
    return {
        tuple(r[k] for k in key): r[val] for _, r in df.iterrows()
    }


BASE = [
    (0, 1, 0.5),
    (0, 2, 1.0),
    (0, 3, 0.1),
    (1, 2, 10.0),
    (1, 4, 2.0),
]


def test_min_max():
    m = as_map(normalize(tall(BASE), "min_max"))
    assert m[(0, 1)] == pytest.approx((0.5 - 0.1) / 0.9, rel=1e-6)
    assert m[(0, 2)] == pytest.approx(1.0)
    assert m[(0, 3)] == pytest.approx(0.001)  # normalized 0 → MIN_SCORE
    assert m[(1, 2)] == pytest.approx(1.0)
    assert m[(1, 4)] == pytest.approx(0.001)


def test_min_max_single_result_is_one():
    m = as_map(normalize(tall([(0, 7, 3.3)]), "min_max"))
    assert m[(0, 7)] == pytest.approx(1.0)  # SINGLE_RESULT_SCORE


def test_min_max_lower_bounds_apply_and_clip():
    rows = [(0, 1, 2.0), (0, 2, 8.0), (0, 3, 10.0), (1, 1, 1.0), (1, 2, 5.0)]
    lbs = [LowerBound("apply", 4.0), LowerBound("clip", 2.0)]
    m = as_map(normalize(tall(rows), "min_max", lower_bounds=lbs))
    # subq0 apply, lb=4: max=10>=4. s=2 < lb → (2-2)/(10-2)=0; s=8 → (8-4)/6
    assert m[(0, 1)] == pytest.approx(0.0)
    assert m[(0, 2)] == pytest.approx(4.0 / 6.0, rel=1e-6)
    assert m[(0, 3)] == pytest.approx(1.0)
    # subq1 clip, lb=2: s=1 >= min(1) → not clipped... s<min false; max=5>=2
    # → (1-2)/(5-2) = -1/3 (clip only zeroes scores below the raw min)
    assert m[(1, 1)] == pytest.approx(-1.0 / 3.0, rel=1e-6)
    assert m[(1, 2)] == pytest.approx(1.0)


def test_l2():
    m = as_map(normalize(tall(BASE), "l2"))
    n0 = math.sqrt(0.5**2 + 1.0**2 + 0.1**2)
    assert m[(0, 1)] == pytest.approx(0.5 / n0, rel=1e-6)
    n1 = math.sqrt(104.0)
    assert m[(1, 4)] == pytest.approx(2.0 / n1, rel=1e-6)


def test_l2_zero_norm_gives_min_score():
    m = as_map(normalize(tall([(0, 1, 0.0), (0, 2, 0.0)]), "l2"))
    assert m[(0, 1)] == pytest.approx(0.001)


def test_z_score():
    m = as_map(normalize(tall(BASE), "z_score"))
    s0 = np.array([0.5, 1.0, 0.1])
    mean, std = s0.mean(), s0.std(ddof=1)  # commons-math sample std
    assert m[(0, 2)] == pytest.approx((1.0 - mean) / std, rel=1e-5)
    # z <= 0 → 0.001
    assert m[(0, 3)] == pytest.approx(0.001)
    assert m[(0, 1)] == pytest.approx(0.001)  # (0.5-0.533)/std < 0
    # single-score subquery: score == mean → max → itself
    m1 = as_map(normalize(tall([(0, 9, 4.2)]), "z_score"))
    assert m1[(0, 9)] == pytest.approx(4.2)


def test_rrf_normalization():
    m = as_map(normalize(tall(BASE), "rrf"))
    # subq0 ranks: doc2=1, doc1=2, doc3=3
    assert m[(0, 2)] == pytest.approx(round(1 / 61, 10))
    assert m[(0, 1)] == pytest.approx(round(1 / 62, 10))
    assert m[(0, 3)] == pytest.approx(round(1 / 63, 10))
    assert m[(1, 2)] == pytest.approx(round(1 / 61, 10))


def test_rrf_rank_constant_validation(spark):
    b = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    with pytest.raises(ValueError):
        hybrid_topk([b], k=1, normalization="rrf", rank_constant=0)


def test_rrf_rounding_matches_spark_half_up(spark):
    """rrf's 1/(rank_constant + rank) is rounded to 10 dp HALF_UP, as
    Spark's round() and the reference's BigDecimal do: bit for bit at
    the exact ties n = 2048 and n = 10240 (where half-to-even rounding
    differs) and over ranks 1..depth for three rank constants."""
    depth = 2000
    got = {}
    for rc in (1, 60, 10000):
        t = tall([(0, d, float(depth - d)) for d in range(depth)])
        out = normalize(t, "rrf", rank_constant=rc)
        # distinct scores: doc d holds rank d + 1
        got.update(zip(rc + out["doc_id"] + 1, out["norm_score"]))
    assert {2048, 10240} <= set(got)
    want = {
        r["n"]: r["v"]
        for r in spark.createDataFrame(pd.DataFrame({"n": sorted(got)}))
        .select(
            "n",
            F.round(F.lit(1.0) / F.col("n"), 10)
            .cast("float").cast("double").alias("v"),
        )
        .collect()
    }
    assert {n: float(v).hex() for n, v in got.items()} == {
        n: v.hex() for n, v in want.items()
    }


_M = {"match": {"query_text": "a"}}


@pytest.mark.parametrize(
    "n,opts",
    [
        (2, {"normalization": "bogus"}),
        (2, {"combination": "bogus"}),
        (2, {"weights": [float("nan"), 1.0]}),
        (2, {"weights": [float("inf"), 1.0]}),
        (2, {"weights": [0.5, 0.3, 0.2]}),
        (2, {"rank_constant": 0}),
        (2, {"rank_constant": 10001}),
        (2, {"pagination_depth": -3}),
        (2, {"pagination_depth": 0}),
        (2, {"pagination_depth": 10001}),
        (0, {}),
        (6, {}),
        (2, {"normalization": "bogus", "weights": [float("nan"), 1.0, 7.0],
             "rank_constant": 0, "pagination_depth": -3}),
    ],
    ids=[
        "normalization", "combination", "nan_weight", "inf_weight",
        "weights_length", "rank_constant_0", "rank_constant_10001",
        "depth_negative", "depth_0", "depth_10001", "no_subqueries",
        "six_subqueries", "all_bad",
    ],
)
def test_hybrid_options_checked_when_built(spark, n, opts):
    """A hybrid spec is checked when it is built, so a body search would
    reject never parses, and the library entry points run the same check."""
    with pytest.raises(ValueError):
        spec_from_json({"hybrid": {"queries": [_M] * n, **opts}})
    b = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    for fn in (hybrid_topk, hybrid_explain):
        with pytest.raises(ValueError):
            fn([b] * n, k=1, **opts)


def combined_map(rows, n, technique, weights=None):
    df = tall(rows).rename(columns={"score": "norm_score"})
    out = combine(df, n, technique, weights=weights)
    return dict(zip(out["doc_id"], out["score"]))


def test_arithmetic_missing_slot_counts_weight():
    # doc 1 present only in subq0 with 0.8; missing slot = 0.0 counts weight
    m = combined_map([(0, 1, 0.8), (1, 2, 0.6)], 2, "arithmetic_mean")
    assert m[1] == pytest.approx(0.8 / 2)
    assert m[2] == pytest.approx(0.6 / 2)


def test_arithmetic_weights():
    m = combined_map(
        [(0, 1, 0.8), (1, 1, 0.4)],
        2,
        "arithmetic_mean",
        weights=[0.3, 0.7],
    )
    assert m[1] == pytest.approx((0.3 * 0.8 + 0.7 * 0.4) / 1.0, rel=1e-6)


def test_geometric_skips_nonpositive():
    m = combined_map([(0, 1, 0.8), (1, 1, 0.0)], 2, "geometric_mean")
    # 0.0 skipped entirely: exp(1*ln(0.8)/1) = 0.8
    assert m[1] == pytest.approx(0.8, rel=1e-6)
    m2 = combined_map([(0, 9, 0.0)], 1, "geometric_mean")
    assert m2[9] == pytest.approx(0.0)


def test_harmonic():
    m = combined_map([(0, 1, 0.5), (1, 1, 0.25)], 2, "harmonic_mean")
    assert m[1] == pytest.approx(2.0 / (1 / 0.5 + 1 / 0.25), rel=1e-6)


def test_rrf_combination_is_weighted_sum():
    m = combined_map([(0, 1, 0.016), (1, 1, 0.016)], 2, "rrf")
    assert m[1] == pytest.approx(0.032, rel=1e-5)  # sum, not mean


def test_hybrid_topk_end_to_end(spark):
    b0 = spark.createDataFrame(
        [(1, 0.5), (2, 1.0), (3, 0.1)], "doc_id long, score double"
    )
    b1 = spark.createDataFrame(
        [(2, 10.0), (4, 2.0)], "doc_id long, score double"
    )
    out = hybrid_topk([b0, b1], k=4).toPandas()
    assert out["doc_id"].tolist() == [2, 1, 3, 4]
    assert out["score"].iloc[0] == pytest.approx(1.0)
    assert out["score"].iloc[1] == pytest.approx(((0.5 - 0.1) / 0.9) / 2, rel=1e-6)
    # docs 3 and 4 tie at 0.0005 → doc_id asc
    assert out["rank"].tolist() == [1, 2, 3, 4]


def test_hybrid_max_subqueries(spark):
    b = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    with pytest.raises(ValueError):
        hybrid_topk([b] * 6, k=1)


def test_rerank_by_field(spark):
    res = spark.createDataFrame([(1, 0.9), (2, 0.5)], "doc_id long, score double")
    src = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 1.0)], "doc_id long, rating double"
    )
    out = rerank_by_field(res, src, "rating").toPandas()
    assert out["doc_id"].tolist() == [2, 1]
    assert out["score"].tolist() == [99.0, 10.0]


def test_collapse_top1(spark):
    scored = spark.createDataFrame(
        [(1, 0.9, "a"), (2, 0.8, "a"), (3, 0.5, "b"), (4, 0.7, "b")],
        "doc_id long, score double, grp string",
    )
    out = collapse_top1(scored, "grp", k=10).toPandas()
    assert out["doc_id"].tolist() == [1, 4]
