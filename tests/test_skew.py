"""Salted-join equivalence: identical results to the plain join on skewed
data, for inner and left joins, including unmatched and duplicate keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.skew import salted_join
from tests.conftest import rank_regime


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of fact rows share key 1 (the hot key); key 4 has no dim match.
    big = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise((F.col("id") % 3) + 2).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (3, "b2")], ["k", "label"]
    )
    return big, small


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_plain_join(spark, skewed, how):
    big, small = skewed
    plain = big.join(small, on=["k"], how=how)
    salted = salted_join(big, small, on=["k"], how=how, buckets=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert _sorted_rows(salted.select(*plain.columns)) == _sorted_rows(plain)


def test_salted_join_rejects_right(spark, skewed):
    big, small = skewed
    with pytest.raises(ValueError):
        salted_join(big, small, on=["k"], how="right")


def test_percent_rank_paths_agree_on_nan(spark):
    """Regression (r8 review): the range-partitioned path used to bucket
    NaN with the NULLs (bucket -1), flipping its rank position vs true
    PERCENT_RANK (Spark sorts NaN as the LARGEST value).  Both regimes —
    spread values and a hot value over the same tail, asserted on the
    plan — must agree with it."""
    from pyspark.sql import Window as W

    from kusuma_metamorph_etl_spark.operators.windows import (
        global_percent_rank,
    )

    tail = [float(i) for i in range(500)] + [float("nan")] + [None] * 2
    for vals, regime in ((tail, "spread"), ([250.0] * 5000 + tail, "collapsed")):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        truth = {
            ("nan" if r["x"] != r["x"] else r["x"]): r["pr"]
            for r in df.select(
                "x", F.percent_rank().over(W.orderBy(F.desc("x"))).alias("pr")
            ).collect()
            if r["x"] is not None
        }
        out = global_percent_rank(df, "x", descending=True)
        assert rank_regime(out) == regime
        got = {
            ("nan" if r["x"] != r["x"] else r["x"]): r["percent_rank"]
            for r in out.collect()
            if r["x"] is not None
        }
        assert abs(got["nan"] - truth["nan"]) < 1e-9, (regime, got["nan"])
        for probe in (0.0, 250.0, 499.0):
            assert abs(got[probe] - truth[probe]) < 1e-9, (regime, probe)


def test_percent_rank_timestamp_input(spark):
    """Regression (r8 review): the high-cardinality path crashed on the
    timestamp columns its own docstring advertises (approxQuantile is
    numeric-only).  An order-isomorphic unix-micros shadow ranks them."""
    import datetime as dt

    from pyspark.sql import Window as W

    from kusuma_metamorph_etl_spark.operators.windows import (
        global_percent_rank,
    )

    t0 = dt.datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=i),) for i in range(400)], "ts timestamp"
    )
    truth = {
        r["ts"]: r["pr"]
        for r in df.select(
            "ts", F.percent_rank().over(W.orderBy(F.desc("ts"))).alias("pr")
        ).collect()
    }
    out = global_percent_rank(df, "ts", descending=True)
    assert rank_regime(out) == "spread"
    got = {r["ts"]: r["percent_rank"] for r in out.collect()}
    for k in truth:
        assert abs(got[k] - truth[k]) < 1e-9


def test_ntile_timestamp_and_date_input(spark):
    """Regression: global_ntile's range regime bucketed with
    approxQuantile, which is numeric-only, so spread timestamp/date keys
    crashed it.  The core's order-isomorphic shadow (shared with
    global_percent_rank) ranks them; tiles equal Spark's NTILE over the
    same total order, including tied and NULL keys."""
    import datetime as dt

    from pyspark.sql import Window as W

    from kusuma_metamorph_etl_spark.operators.windows import global_ntile

    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(hours=7 * (i // 2))) for i in range(400)]
    df = spark.createDataFrame(rows + [(400, None)], "i long, ts timestamp")
    df = df.withColumn("d", F.to_date("ts"))
    for key in ("ts", "d"):
        truth = {
            r["i"]: r["nt"]
            for r in df.select(
                "i",
                F.ntile(7)
                .over(W.orderBy(F.desc(key), F.asc("i")))
                .alias("nt"),
            ).collect()
        }
        out = global_ntile(df, key, [F.asc("i")], 7, "nt", descending=True)
        assert rank_regime(out) == "spread", key
        assert {r["i"]: r["nt"] for r in out.collect()} == truth, key


def test_percent_rank_hot_value_with_huge_distinct_tail(spark):
    """Regression (r8 review): collapsed row-quantiles used to route to
    a broadcast rank map even when a skew-hidden distinct tail was huge
    (an O(distinct) broadcast).  The collapsed regime buckets the
    distinct values weighted by their counts; values agree with
    PERCENT_RANK."""
    from pyspark.sql import Window as W

    from kusuma_metamorph_etl_spark.operators.windows import (
        global_percent_rank,
    )

    # 5000 copies of the hot value + a 500-value distinct tail
    vals = [0.0] * 5000 + [float(i) for i in range(1, 501)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    truth = {
        r["x"]: r["pr"]
        for r in df.select(
            "x", F.percent_rank().over(W.orderBy(F.desc("x"))).alias("pr")
        ).collect()
    }
    out = global_percent_rank(df, "x", descending=True)
    assert rank_regime(out) == "collapsed"
    got = {r["x"]: r["percent_rank"] for r in out.collect()}
    assert abs(got[0.0] - truth[0.0]) < 1e-9   # hot value: rank 500/(n-1)
    for probe in (1.0, 250.0, 500.0):
        assert abs(got[probe] - truth[probe]) < 1e-9, probe
    assert out.count() == len(vals)
