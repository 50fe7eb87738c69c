"""The benchmark workloads: their inputs, and the steps one pass runs.

A pass is a list of steps run one after another (a single closed-loop
client).  A step has a ``build`` phase (the call that returns the
DataFrame or stream, including any eager jobs it runs) and an ``exec``
phase (the write that forces it).  Outputs for the checks are captured
in the untimed warm-up pass (``Step.capture``) or read back
afterwards (``Workload.collect``), never inside a timed pass.
"""

from __future__ import annotations

import datetime as dt
import os

import gen

CATALOG = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# The registry rows of the LLM data-prep path that the benchmark's time
# budget allows (spec.json lists the ones left out and why).
CORPUS_ROWS = [
    "mart_llm_dataprep",
    "sim_maxsim_topk",
    "txt_ccnet_buckets",
    "txt_unigram_roundtrip",
    "graph_pagerank",
]
NIGHTLY_MARTS = [
    "mart_supplier_performance",
    "mart_product_performance",
    "mart_customer_sales_report",
]
NIGHTLY_STREAM = ["sessionize_stream", "stream_dual_write"]
# every step name a workload can report, for the per-layer metric list
ALL_STEPS = NIGHTLY_MARTS + NIGHTLY_STREAM + CORPUS_ROWS

# Input scale of each workload (gen.sizes); the row counts and bytes these
# give are recorded in perfbench/spec.json.
SCALE = {"nightly_retail": 0.002, "corpus_prep": 0.001}
EVENT_SCALE = 0.0025  # the nightly click stream: 2,500 events per day
NIGHTLY_DAYS = 4  # generated feed days: the warm-up day and child.MIN_PASSES timed days
STREAM_FILES = 2  # event files per day; maxFilesPerTrigger=1 -> 2 micro-batches


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir``; return their size."""
    sf = SCALE[workload]
    if workload == "nightly_retail":
        rows = gen.write_nightly(out_dir, seed, sf, NIGHTLY_DAYS, EVENT_SCALE, STREAM_FILES)
        nbytes = gen.tree_bytes(os.path.join(out_dir, "feeds")) + sum(
            gen.tree_bytes(os.path.join(out_dir, f"day{d}", "events.parquet"))
            for d in range(NIGHTLY_DAYS)
        )
        # per pass (= per run date)
        return {
            "input_rows": sum(rows.values()) // NIGHTLY_DAYS,
            "input_bytes": nbytes // NIGHTLY_DAYS,
        }
    used = ("documents", "embeddings", "events")
    rows = gen.write_catalog(out_dir, seed, sf, CATALOG + list(used))
    return {
        "input_rows": sum(rows[t] for t in used),
        "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f"{t}.parquet")) for t in used),
    }


class Step:
    """``capture``: in the untimed warm-up pass, called instead of
    ``execute`` to return the step's output for the parent's checks."""

    def __init__(self, name: str, build, execute, capture=None) -> None:
        self.name, self.build, self.execute, self.capture = name, build, execute, capture


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base: a fixed list of registry rows over one catalog directory."""

    rows: list[str] = []
    max_passes = 1_000_000  # last pass index the inputs allow

    def __init__(self, spark, inputs: str, work: str, tracer) -> None:
        from kusuma_metamorph_etl_spark import registry

        self.spark, self.inputs, self.work, self.tracer = spark, inputs, work, tracer
        self.queries = registry.queries()
        self.sinks = os.path.join(work, "sinks")
        os.makedirs(self.sinks, exist_ok=True)

    def pass_input_bytes(self, index: int) -> int:
        return 0

    def steps(self, index: int) -> list[Step]:
        return [self._registry_step(name) for name in self.rows]

    def _registry_step(self, name: str) -> Step:
        return Step(name, lambda: self.queries[name](self.spark, self.inputs), noop, rows_of)

    def collect(self, index: int) -> dict:
        """Outputs to check after pass ``index`` beyond the captured ones."""
        return {}


def rows_of(df) -> dict:
    """Collected output with lower-case column names (the oracle's)."""
    return {
        "columns": [c.lower() for c in df.columns],
        "rows": [{k.lower(): v for k, v in r.asDict().items()} for r in df.collect()],
    }


class CorpusPrep(Workload):
    rows = CORPUS_ROWS


class NightlyRetail(Workload):
    """One pass = one run date: ingest the four feeds, run the gates on the
    day's legacy snapshot, build the three marts, publish, read back; then
    replay the day's click stream through the stateful sessionizer and the
    streaming dual write."""

    FEEDS = ["sales", "products", "customers", "suppliers"]
    max_passes = NIGHTLY_DAYS - 1

    def __init__(self, spark, inputs, work, tracer) -> None:
        super().__init__(spark, inputs, work, tracer)
        from kusuma_metamorph_etl_spark.ingestion import FeedSpec

        self.specs = {
            f: FeedSpec(
                f,
                [name for name, _ in _feed_columns(f)],
                gen.FEED_KEYS[f],
                os.path.join(self.sinks, "raw", f),
                os.path.join(self.sinks, "legacy", f),
            )
            for f in self.FEEDS
        }
        self.specs["corrections"] = FeedSpec(
            "corrections",
            self.specs["sales"].target_columns,
            gen.FEED_KEYS["sales"],
            os.path.join(self.sinks, "raw", "corrections"),
            os.path.join(self.sinks, "legacy", "corrections"),
        )

    def _feed_path(self, feed: str, day: dt.date) -> str:
        return self.specs[feed].for_run_date(os.path.join(self.inputs, "feeds"), day)

    def pass_input_bytes(self, index: int) -> int:
        day = gen.run_date(index)
        feeds = sum(os.path.getsize(self._feed_path(f, day)) for f in self.FEEDS)
        return feeds + gen.tree_bytes(os.path.join(self._day_dir(index), "events.parquet"))

    def steps(self, index: int) -> list[Step]:
        from pyspark.sql import functions as F

        from kusuma_metamorph_etl_spark import ingestion, marts
        from kusuma_metamorph_etl_spark.plans import quality
        from kusuma_metamorph_etl_spark.sources import csv, sinks

        spark, day = self.spark, gen.run_date(index)
        stamp = day.strftime("%Y%m%d")
        legacy: dict = {}

        def ingest(feed):
            def build():
                src = csv.read_csv(spark, self._feed_path(feed, day), schema=gen.FEED_SCHEMA[feed])
                return ingestion.ingest_feed(src, self.specs[feed], run_date=day)

            return Step(f"ingest_{feed}", build, lambda df: None)

        def reject_corrections():
            src = csv.read_csv(spark, self._feed_path("corrections", day), schema=gen.FEED_SCHEMA["sales"])
            try:
                ingestion.ingest_feed(src, self.specs["corrections"], run_date=day)
            except quality.DuplicateKeyError:
                return None
            raise AssertionError("duplicate-key corrections feed was not rejected")

        def load_day():
            for f in self.FEEDS:
                df = sinks.read_legacy(spark, self.specs[f].legacy_path)
                legacy[f] = df.filter(F.col(sinks.DAY_DT) == F.lit(day)).drop(sinks.DAY_DT)
            return None

        def gates():
            sales = legacy["sales"]
            quality.referential_gate(sales, legacy["products"], "PRODUCT_ID")
            quality.referential_gate(sales, legacy["customers"], "CUSTOMER_ID")
            quality.null_policy(sales, ["SALE_ID", "PRODUCT_ID", "CUSTOMER_ID", "QUANTITY"])
            quality.row_count_gate(sales, 1, 10_000_000)
            quality.schema_drift_gate(sales, dict(_feed_columns("sales")))
            history = spark.read.parquet(os.path.join(self.inputs, "history.parquet"))
            prior = (
                sinks.read_legacy(spark, self.specs["sales"].legacy_path)
                .filter(F.col(sinks.DAY_DT) < F.lit(day))
                .groupBy(sinks.DAY_DT)
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
            quality.volume_anomaly_gate(sales, history.unionByName(prior), z=4.0)
            return None

        def mart(name):
            def build():
                sales, products = legacy["sales"], legacy["products"]
                if name == "mart_supplier_performance":
                    return marts.supplier_performance(
                        sales, products, legacy["suppliers"], run_date=day, supplier_key_from="sales"
                    )
                if name == "mart_product_performance":
                    return marts.product_performance(sales, products, run_date=day)
                return marts.customer_sales_report(
                    sales, products, legacy["customers"], run_date=day, run_ts=f"{day} 00:00:00"
                )

            def publish(df):
                root = os.path.join(self.sinks, "marts", name)
                sinks.publish_snapshot(spark, df, root, stamp)
                noop(sinks.read_published(spark, root))

            return Step(name, build, publish)

        return (
            [ingest(f) for f in self.FEEDS]
            + [
                Step("reject_corrections", reject_corrections, lambda df: None),
                Step("load_day", load_day, lambda df: None),
                Step("gates", gates, lambda df: None),
            ]
            + [mart(name) for name in NIGHTLY_MARTS]
            + self._stream_steps(index)
        )

    def _day_dir(self, index: int) -> str:
        return os.path.join(self.inputs, f"day{index}")

    def _stream_steps(self, index: int) -> list[Step]:
        from kusuma_metamorph_etl_spark.streaming import sink, stateful, windows

        spark, day_dir = self.spark, self._day_dir(index)
        ckpt = os.path.join(self.work, "ckpt", str(index))

        def events():
            return windows.stream_events(spark, day_dir, {"maxFilesPerTrigger": "1"})

        def run_stream(df, fmt: str, name: str, path: str | None = None):
            writer = df.writeStream.format(fmt).outputMode("append")
            if path:
                writer = writer.option("path", path)
            q = writer.option("checkpointLocation", f"{ckpt}-{name}").trigger(availableNow=True).start()
            self._note_stream(q)
            q.awaitTermination()

        def sessionize_rows(df):
            path = os.path.join(self.work, "check_sessionize")
            run_stream(df, "parquet", "check", path)
            return rows_of(spark.read.parquet(path).select("user_id", "event_id", "ts", "session_idx"))

        def dual_write(df):
            self._note_stream(
                sink.stream_dual_write(
                    df,
                    os.path.join(self.sinks, "events_raw"),
                    os.path.join(self.sinks, "events_legacy"),
                    f"{ckpt}-dual",
                    run_date=gen.run_date(index),
                )
            )

        return [
            Step(
                "sessionize_stream",
                lambda: stateful.sessionize_stream(events(), 1800),
                lambda df: run_stream(df, "noop", "sessionize"),
                sessionize_rows,
            ),
            Step("stream_dual_write", events, dual_write),
        ]

    def _note_stream(self, query) -> None:
        """Attach a finished stream to the open span, for its job group
        and progress metrics."""
        span = self.tracer._stack[-1] if self.tracer.enabled and self.tracer._stack else None
        if span is not None:
            span["stream_groups"].append(str(query.runId))
            span["stream_queries"].append(query)

    def collect(self, index: int) -> dict:
        """Warm-up day: the batch twin of the captured stream output.
        Timed days: every mart published and the streamed legacy events."""
        from pyspark.sql import functions as F

        from kusuma_metamorph_etl_spark.sources import sinks

        if index == 0:
            return {"evt_sessionize": rows_of(self.queries["evt_sessionize"](self.spark, self._day_dir(0)))}
        day = gen.run_date(index)
        stamp = day.strftime("%Y%m%d")
        out = {
            name: rows_of(sinks.read_published(self.spark, os.path.join(self.sinks, "marts", name), stamp))
            for name in NIGHTLY_MARTS
        }
        legacy = sinks.read_legacy(self.spark, os.path.join(self.sinks, "events_legacy"))
        out["stream_dual_write"] = rows_of(legacy.filter(F.col(sinks.DAY_DT) == F.lit(day)).drop(sinks.DAY_DT))
        return out


def _feed_columns(feed: str) -> list[tuple[str, str]]:
    """(ingested column name, Spark type) of a feed, from its CSV schema."""
    from kusuma_metamorph_etl_spark.functions.naming import normalize_name

    cols = []
    for field in gen.FEED_SCHEMA[feed].split(", "):
        _, name, dtype = field.split("`")
        cols.append((normalize_name(name), dtype.strip().lower()))
    return cols


WORKLOADS = {
    "nightly_retail": NightlyRetail,
    "corpus_prep": CorpusPrep,
}
