"""Window operators (SURVEY.md §2.6).

``win_rownum_topk`` / ``win_rownum_flag`` are stock ``row_number`` windows.
The interesting ones are :func:`global_percent_rank` and
:func:`global_ntile`: the reference ranks the WHOLE dataset with an
unpartitioned ``Window.orderBy(...)``
(``/root/reference/ETL-Airflow/dags/tasks/customer_sales_report_task.py:
101-106``, anti-pattern A4) — Spark executes that as a single task holding
every row.  Both functions compute the *exact* same values scalably from
one private core, :func:`_global_position`, which gives every row its
0-based global position and the total row count.  The core picks its
regime from the quantile bounds it needs anyway — no caller flag, no
cardinality probe: spread quantiles rank rows inside range buckets and
add prefix-summed bucket offsets; collapsed quantiles (hot value,
constant column) rank the distinct values weighted by their counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

from kusuma_metamorph_etl_spark.session import share


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int = 1,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """`win_rownum_topk`: row_number ≤ k per group, deterministic iff
    ``order_by`` is a total order (pass tiebreak columns!).

    Scale: one hash-shuffle on ``partition_by``; skewed groups are split by
    AQE.  No global sort.
    """
    window = Window.partitionBy(*partition_by).orderBy(*order_by)
    ranked = df.withColumn(rank_col, F.row_number().over(window)).filter(
        F.col(rank_col) <= k
    )
    return ranked if keep_rank else ranked.drop(rank_col)


def global_percent_rank(
    df: DataFrame,
    value_col: str,
    out_col: str = "percent_rank",
    descending: bool = True,
) -> DataFrame:
    """Exact global ``PERCENT_RANK() OVER (ORDER BY value [DESC])`` without
    a single-partition window, including tie semantics: ``(rows strictly
    before the row's value) / (n - 1)``, 0.0 when ``n == 1``.  Nulls and
    NaN take Spark's sort positions (see :func:`_global_position`).
    """
    ranked = _global_position(df, value_col, None, descending)
    return ranked.withColumn(
        out_col,
        F.when(F.col("__total") > 1, F.col("__pos") / (F.col("__total") - 1))
        .otherwise(F.lit(0.0)),
    ).drop("__pos", "__total")


def global_ntile(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column],
    n_tiles: int,
    out_col: str,
    descending: bool = False,
) -> DataFrame:
    """Exact global ``NTILE(n) OVER (ORDER BY value [DESC], tiebreaks)``
    without a single-partition window (VERDICT r18 Next #3: the RFM /
    engagement-tier ntiles sorted the full customer/user grain in ONE
    task).

    Requires ``(value_col, *tiebreaks)`` to be a TOTAL order (the
    registered callers all append a unique key — the same discipline
    Spark needs for a deterministic ntile).  ntile is row_number
    arithmetic: with n rows in k tiles, the first ``n % k`` tiles hold
    ``n div k + 1`` rows and the rest ``n div k`` (SQL standard; Spark
    ``NTile`` and DuckDB agree), so an exact global row number plus the
    total gives the exact tile.
    """
    numbered = _global_position(df, value_col, tiebreaks, descending)
    k = F.lit(int(n_tiles)).cast("long")
    n = F.col("__total")
    rn = F.col("__pos") + F.lit(1)
    # long/long division yields double; cast truncates toward zero ==
    # floor for the non-negative counts here (exact below 2^53 rows).
    q = (n / k).cast("long")
    r = n % k
    # First r tiles hold q+1 rows; q == 0 (n < k) keeps every row in the
    # first branch (boundary == n), so the greatest() guard never changes
    # a used value — it only keeps the dead branch free of div-by-zero.
    boundary = (q + F.lit(1)) * r
    q_safe = F.greatest(q, F.lit(1).cast("long"))
    tile = F.when(
        rn <= boundary, ((rn + q) / (q + F.lit(1))).cast("long")
    ).otherwise(r + ((rn - boundary + q_safe - F.lit(1)) / q_safe).cast("long"))
    return numbered.withColumn(out_col, tile.cast("int")).drop("__pos", "__total")


def _order_key(df: DataFrame, value_col: str) -> tuple[DataFrame, str]:
    """``(df, key)`` where ``key`` is a numeric column that sorts, ties and
    groups exactly like ``value_col`` — the value itself when numeric.

    Bucketing goes through ``approxQuantile``, which accepts only numeric
    columns, so timestamps and dates get an order-isomorphic shadow:
    unix micros (strictly monotonic, tie-preserving) and epoch days.
    """
    dtype = df.schema[value_col].dataType
    if isinstance(dtype, NumericType):
        return df, value_col
    if isinstance(dtype, DateType):
        num = F.datediff(F.col(value_col), F.lit("1970-01-01").cast("date"))
    elif isinstance(dtype, TimestampNTZType):
        # wall-clock arithmetic, NOT a session-zone cast: under a DST
        # session zone the cast collapses spring-forward-gap wall times
        # onto the next instant, breaking tie preservation (this repo
        # pins UTC, but the operator must not depend on that)
        num = F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{value_col}`)"
        )
    elif isinstance(dtype, TimestampType):
        num = F.unix_micros(F.col(value_col))
    else:
        # The seam for strings/binary is an order-isomorphic prefix
        # encoding (first 8 bytes as a long — binary-collation-consistent);
        # until a real corpus needs it, callers pre-encode.
        raise ValueError(
            f"cannot rank {dtype.simpleString()!r} column {value_col!r}: "
            "bucketing needs a numeric, date or timestamp key "
            "(approxQuantile is numeric-only); pre-encode an "
            "order-isomorphic numeric shadow"
        )
    return df.withColumn("__order_key", num), "__order_key"


def _global_position(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column] | None,
    descending: bool,
) -> DataFrame:
    """Add ``__pos`` (0-based global position) and ``__total`` (row
    count) to every row, in ``ORDER BY value [DESC]`` with Spark's null
    order (asc NULLS FIRST, desc NULLS LAST; NaN is the largest value).

    ``tiebreaks=None`` ranks: ``__pos`` counts the rows strictly before
    the row's value, so ties share it.  A list numbers rows over
    ``(value, *tiebreaks)``: ``__pos`` is ``row_number - 1``.

    One ``approxQuantile`` pass (bounded driver collect of ≤P doubles,
    P = shuffle parallelism) fixes deterministic bucket bounds
    (:func:`~kusuma_metamorph_etl_spark.operators.partitioning.quantile_bucket`
    — unlike ``repartitionByRange``, every branch of a diamond plan sees
    the same buckets).  Its result picks the regime:

    * **spread quantiles** (more than two buckets): equal values share a
      bucket, so ``rank()``/``row_number()`` *within* a bucket plus the
      rows of earlier buckets is the global position.  The per-bucket
      totals are a ≤P-row frame — the only unpartitioned window — and
      the only broadcast is that offset table.  No O(n) map, no map-back
      join, no task holding more than ~n/P rows.
    * **collapsed quantiles** (a hot value or a constant column: the
      row quantiles all return one value).  Bucketing rows degenerates,
      but each value appears ONCE in the distinct-value frame, so ITS
      quantiles spread however skewed the row counts are.  Rows before a
      value = its bucket's count-weighted offset + the weighted prefix
      inside the bucket; windows run over ≤ |distinct|/P value rows.
      The value → rows-before map joins back by value (null-safe); it
      is O(distinct), so the join is left to AQE, which broadcasts a
      small map and splits a hot key.  Row numbering adds a within-value
      ``row_number()`` over the tiebreaks — a hot value's rows share
      one window partition there.

    Nulls get bucket -1 and NaN the top bucket in both regimes, which
    is where Spark's sort puts them.
    """
    from kusuma_metamorph_etl_spark.operators.partitioning import (
        bucket_offsets,
        quantile_bucket,
    )

    spark = df.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    keyed, key = _order_key(df, value_col)
    bucketed, n_buckets = quantile_bucket(keyed, key, num_parts)
    if n_buckets > 2:
        order = F.col(value_col).desc() if descending else F.col(value_col).asc()
        number = F.rank() if tiebreaks is None else F.row_number()
        in_bkt = Window.partitionBy("__bkt").orderBy(order, *(tiebreaks or []))
        offsets = bucket_offsets(
            bucketed, "__bkt", F.lit(1), ascending=not descending
        )
        out = (
            bucketed.withColumn("__in_bkt", number.over(in_bkt))
            .join(F.broadcast(offsets), on="__bkt")
            .withColumn("__pos", F.col("__bkt_offset") + F.col("__in_bkt") - 1)
            .drop("__bkt", "__in_bkt", "__bkt_offset")
        )
    else:
        # shared by approxQuantile's driver action, the in-bucket
        # window and bucket_offsets — without one materialization the
        # O(n) scan + O(distinct) aggregation re-runs three times
        counts = share(keyed.groupBy(key).agg(F.count(F.lit(1)).alias("__cnt")))
        values, _ = quantile_bucket(counts, key, num_parts)
        order = F.col(key).desc() if descending else F.col(key).asc()
        before_in_bkt = Window.partitionBy("__bkt").orderBy(order).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = bucket_offsets(
            values, "__bkt", F.col("__cnt"), ascending=not descending
        )
        rows_before = (
            values.withColumn(
                "__before_in_bkt",
                F.coalesce(F.sum("__cnt").over(before_in_bkt), F.lit(0)),
            )
            .join(F.broadcast(offsets), on="__bkt")
            .select(
                F.col(key).alias("__rank_key"),
                (F.col("__bkt_offset") + F.col("__before_in_bkt")).alias("__pos"),
                "__total",
            )
        )
        out = keyed.join(
            rows_before,
            on=F.col(key).eqNullSafe(F.col("__rank_key")),
            how="left",
        ).drop("__rank_key")
        if tiebreaks is not None:
            in_value = Window.partitionBy(key).orderBy(*tiebreaks)
            out = out.withColumn(
                "__pos", F.col("__pos") + F.row_number().over(in_value) - 1
            )
    return out if key == value_col else out.drop(key)
