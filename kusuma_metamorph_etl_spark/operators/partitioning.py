"""Deterministic value-range bucketing — the shared scaffold for global
order statistics: `windows._global_position` (behind `global_percent_rank`
and `global_ntile`) and `sampling.pack_sequences` bucket rows with
:func:`quantile_bucket` and turn per-bucket positions into global ones
with :func:`bucket_offsets`; `cluster_by_zorder` reuses the bounds for a
multi-column file layout.

Why not ``repartitionByRange``: its boundaries re-sample on every
recompute, so a diamond plan's branches can observe *different*
partitionings (measured on this repo — every partition count disagreed
between two counts of the same frame).  A bucket id must be a pure
function of the value: quantile bounds are collected ONCE on the driver
(bounded ≤P doubles) and applied via ``Bucketizer`` — JVM binary search,
narrow, no shuffle, identical on every recompute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quantile_bucket(
    df: DataFrame, numeric_col: str, num_buckets: int, out_col: str = "__bkt"
) -> tuple[DataFrame, int]:
    """Add a deterministic range-bucket id (int) for ``numeric_col``;
    returns ``(bucketed_df, effective_bucket_count)``.

    Bounds come from one ``approxQuantile`` pass (bounded driver collect);
    equal values always share a bucket; nulls get bucket -1 and NaN the
    TOP bucket (== effective count) — the placements Spark's own sort
    uses (asc: NULLS FIRST … NaN last; desc: NaN first … NULLS LAST), so
    a rank built from these buckets matches ``ORDER BY value`` exactly.
    Routing NaN to -1 with the nulls would flip its position in the
    descending walk (ranks then disagreed with ``ORDER BY value DESC``).
    NaN is remapped explicitly
    rather than left to Bucketizer ``keep`` so a NaN that leaked into
    the collected bounds can't make the splits non-increasing and throw.
    Bounds need not be exact quantiles — only fixed — so the 0.001
    relative error is irrelevant to correctness, it only shifts bucket
    balance slightly.  The effective count can collapse below
    ``num_buckets`` under heavy ties (a constant column yields 2, an
    all-null one 1) — callers need a strategy for collapsed bounds, such
    as bucketing the distinct values instead of the rows.
    """
    import math

    from pyspark.ml.feature import Bucketizer

    is_null = F.col(numeric_col).isNull()
    is_nan = ~is_null & F.isnan(F.col(numeric_col).cast("double"))
    probs = [i / num_buckets for i in range(1, num_buckets)]
    bounds = sorted(
        {
            b
            for b in df.stat.approxQuantile(numeric_col, probs, 0.001)
            if not math.isnan(b)
        }
    )
    if not bounds:
        # Empty or all-null/NaN column: Bucketizer would reject the
        # 2-split spec; a single bucket is trivially correct.
        single = df.withColumn(
            out_col,
            F.when(is_null, F.lit(-1))
            .when(is_nan, F.lit(1))
            .otherwise(F.lit(0)),
        )
        return single, 1
    splits = [float("-inf"), *bounds, float("inf")]
    bucketizer = Bucketizer(
        splits=splits,
        inputCol=numeric_col,
        outputCol=f"{out_col}_raw",
        handleInvalid="keep",  # nulls/NaN pass through; remapped below
    )
    n_eff = len(splits) - 1
    bucketed = (
        bucketizer.transform(df)
        .withColumn(
            out_col,
            F.when(is_null, F.lit(-1))
            .when(is_nan, F.lit(n_eff))
            .otherwise(F.col(f"{out_col}_raw").cast("int")),
        )
        .drop(f"{out_col}_raw")
    )
    return bucketed, n_eff


def bucket_offsets(
    bucketed: DataFrame,
    bucket_col: str,
    weight: Column,
    ascending: bool = True,
) -> DataFrame:
    """≤P-row frame of (bucket, prefix-sum of earlier buckets' weight,
    grand total) — the tiny broadcastable side of a two-level prefix sum.
    The only unpartitioned window here runs over ≤P rows.
    """
    order = F.col(bucket_col).asc() if ascending else F.col(bucket_col).desc()
    offset_window = Window.orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total_window = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        bucketed.groupBy(bucket_col)
        .agg(F.sum(weight).alias("__bkt_weight"))
        .select(
            bucket_col,
            F.coalesce(F.sum("__bkt_weight").over(offset_window), F.lit(0)).alias(
                "__bkt_offset"
            ),
            F.sum("__bkt_weight").over(total_window).alias("__total"),
        )
    )


def zorder_value(bucket_cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` of each (already bucketized) column into
    one Z-order (Morton) value — pure shift/mask expressions, JVM-side.

    Rows close in Z-value are close in EVERY interleaved dimension, so
    sorting a file layout by Z-value gives parquet row groups tight
    min/max ranges on all the columns at once — multi-column data
    skipping where a plain sort only serves its leading column.
    """
    n = len(bucket_cols)
    z = F.lit(0).cast("long")
    for k in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("long"), k).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, k * n + i))
    return z


def cluster_by_zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> DataFrame:
    """Return ``df`` laid out in Z-order over ``cols`` — write the result
    to get multi-column row-group data skipping (the single-table
    complement of partition pruning and bucketing).

    Each column is quantile-bucketized to ``2^bits`` levels
    (:func:`quantile_bucket` — deterministic bounds, one bounded driver
    collect per column), the bucket ids interleave into a Z-value, and
    the frame is range-partitioned + sorted on it.  The Z-column is
    dropped; only the row ORDER carries the clustering.  Value-ordering
    content is unchanged (pure reordering).
    """
    from pyspark.ml.feature import Bucketizer

    num_files = num_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    levels = 2**bits
    # ONE multi-column approxQuantile pass over the raw input — a
    # per-column quantile_bucket chain would launch one full-scan driver
    # job per column, each re-executing the previous columns' transforms.
    import math

    probs = [i / levels for i in range(1, levels)]
    all_bounds = df.stat.approxQuantile(list(cols), probs, 0.001)
    out = df
    bucket_cols = []
    for idx, (c, col_bounds) in enumerate(zip(cols, all_bounds)):
        bounds = sorted({b for b in col_bounds if not math.isnan(b)})
        splits = [float("-inf"), *bounds, float("inf")]
        # NaN sorts with no order position: route it to bucket 0 with the
        # nulls (clustering quality only, never correctness).
        invalid = F.col(c).isNull() | F.isnan(F.col(c).cast("double"))
        if len(splits) < 3:  # constant/all-null column: single bucket
            out = out.withColumn(f"__zb{idx}", F.lit(0))
        else:
            out = Bucketizer(
                splits=splits, inputCol=c, outputCol=f"__zb{idx}_raw",
                handleInvalid="keep",
            ).transform(out).withColumn(
                f"__zb{idx}",
                F.when(invalid, F.lit(0)).otherwise(
                    F.col(f"__zb{idx}_raw").cast("int")
                ),
            ).drop(f"__zb{idx}_raw")
        bucket_cols.append(F.col(f"__zb{idx}"))
    out = out.withColumn("__z", zorder_value(bucket_cols, bits))
    out = (
        out.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__zb{i}" for i in range(len(cols))])
    )
    return out
