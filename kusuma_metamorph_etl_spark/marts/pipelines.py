"""The reference's Informatica-style named-node style, reproduced on the
engine's Pipeline API (`pipe_named_nodes`, SURVEY.md §2.9).

The reference names every intermediate frame — ``SQ_Shortcut_To_*`` /
``FIL_*`` / ``JNR_*`` / ``AGG_TRANS_*`` / ``EXP_*`` / ``Shortcut_To_*_Tgt``
— and logs one line per node (``/root/reference/ETL-Airflow/dags/tasks/
supplier_performance_task.py:14-170``).  This module shows the engine's
equivalent: the same mart as an ordered list of named, pure stages.  Each
stage only extends the Catalyst plan; the composed pipeline produces the
IDENTICAL frame to :func:`marts.supplier_performance` CALLED WITH
``supplier_key_from='sales'`` (this pipeline takes the supplier FK from
the sales side — asserted in tests/; the function mart's default takes
it from the product dim, a different aggregation key), so the node view
is free — no materialization per node, unlike the reference's eager
per-source counts.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.marts.supplier_performance import FINAL_COLUMNS
from kusuma_metamorph_etl_spark.plans.pipeline import Pipeline
from kusuma_metamorph_etl_spark.plans.quality import duplicate_gate
from kusuma_metamorph_etl_spark.session import share
from kusuma_metamorph_etl_spark.sources.sinks import stamp_snapshot


def supplier_performance_pipeline(
    products: DataFrame,
    suppliers: DataFrame,
    run_date: dt.date | str | None = None,
) -> Pipeline:
    """The supplier-performance mart as named stages over the sales frame.

    Stage names mirror the reference's mapping nodes so a reader of the
    original task can follow the engine version line by line.
    """

    def jnr_products(sales: DataFrame) -> DataFrame:
        return (
            sales.alias("s")
            .join(
                F.broadcast(products.alias("p")),
                on=F.col("s.PRODUCT_ID") == F.col("p.PRODUCT_ID"),
                how="left",
            )
            .select(
                F.col("s.PRODUCT_ID").alias("PRODUCT_ID"),
                F.col("s.QUANTITY").alias("QUANTITY"),
                F.col("s.SUPPLIER_ID").alias("SUPPLIER_ID"),
                F.col("p.PRODUCT_NAME").alias("PRODUCT_NAME"),
                F.col("p.SELLING_PRICE").alias("SELLING_PRICE"),
            )
        )

    def agg_by_supplier(fact: DataFrame) -> DataFrame:
        agg = fact.groupBy("SUPPLIER_ID").agg(
            F.sum("REVENUE").alias("TOTAL_REVENUE"),
            F.countDistinct("PRODUCT_ID").alias("TOTAL_PRODUCTS_SOLD"),
            F.sum("QUANTITY").alias("TOTAL_STOCK_SOLD"),
        )
        top_window = Window.partitionBy("SUPPLIER_ID").orderBy(
            F.desc("PRODUCT_REVENUE"), F.asc("PRODUCT_NAME")
        )
        top = (
            # decimal sum + name-not-null: mirrors the function mart —
            # a plain double sum ties nondeterministically in the last
            # ulp, and a null-name group (sale whose product id missed
            # the dim) must not win the window and surface as "No sales"
            fact.filter(
                F.col("PRODUCT_ID").isNotNull()
                & F.col("PRODUCT_NAME").isNotNull()
            )
            .groupBy("SUPPLIER_ID", "PRODUCT_NAME")
            .agg(
                F.sum(F.col("REVENUE").cast("decimal(38,6)")).alias(
                    "PRODUCT_REVENUE"
                )
            )
            .withColumn("rn", F.row_number().over(top_window))
            .filter(F.col("rn") == 1)
            .select("SUPPLIER_ID", F.col("PRODUCT_NAME").alias("TOP_SELLING_PRODUCT"))
        )
        return agg.join(F.broadcast(top), on="SUPPLIER_ID", how="left")

    def jnr_suppliers(agg: DataFrame) -> DataFrame:
        return (
            suppliers.alias("r")
            .join(
                F.broadcast(agg.alias("l")),
                on=F.col("r.SUPPLIER_ID") == F.col("l.SUPPLIER_ID"),
                how="left",
            )
            .select(
                F.col("r.SUPPLIER_ID").alias("SUPPLIER_ID"),
                F.col("r.SUPPLIER_NAME").alias("SUPPLIER_NAME"),
                "l.TOTAL_REVENUE",
                "l.TOTAL_PRODUCTS_SOLD",
                "l.TOTAL_STOCK_SOLD",
                "l.TOP_SELLING_PRODUCT",
            )
        )

    def exp_defaults(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "TOP_SELLING_PRODUCT",
                F.coalesce(
                    F.col("TOP_SELLING_PRODUCT").cast("string"), F.lit("No sales")
                ),
            )
            .fillna(
                {"TOTAL_REVENUE": 0.0, "TOTAL_PRODUCTS_SOLD": 0, "TOTAL_STOCK_SOLD": 0}
            )
            .withColumn("TOTAL_REVENUE", F.round("TOTAL_REVENUE", 2))
        )

    return (
        Pipeline("m_load_suppliers_performance")
        .stage("FIL_Sales_Cancelled", lambda df: df.filter(F.col("ORDER_STATUS") != "Cancelled"), kind="FIL")
        .stage("JNR_Sales_Products", jnr_products, kind="JNR")
        .stage(
            "EXP_Revenue",
            lambda df: df.withColumn("REVENUE", F.col("QUANTITY") * F.col("SELLING_PRICE")),
            kind="EXP",
        )
        .stage("AGG_TRANS_By_Supplier", agg_by_supplier, kind="AGG")
        .stage("JNR_Suppliers", jnr_suppliers, kind="JNR")
        .stage("EXP_Null_Defaults", exp_defaults, kind="EXP")
        .stage("EXP_Snapshot", lambda df: stamp_snapshot(df, run_date), kind="EXP")
        .stage(
            "Shortcut_To_Supplier_Performance_Tgt",
            lambda df: df.select(*FINAL_COLUMNS),
            kind="TGT",
        )
        .stage(
            # the persist boundary the pipeline module docstring promises:
            # the gate's collect() materializes the share, so the
            # caller's first action reuses it instead of recomputing the
            # whole mart
            "PERSIST_Boundary",
            share,
            kind="TGT",
        )
        .stage(
            "GATE_PK",
            lambda df: duplicate_gate(df, ["SUPPLIER_ID", "DAY_DT"]),
            kind="TGT",
        )
    )
