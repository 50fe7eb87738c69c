"""Shared SparkSession factory.

The reference creates and tears down one session *per Airflow task*
(``/root/reference/ETL-Airflow/dags/tasks/transform_utils.py:12-32,110-113``
— anti-pattern A5 in SURVEY.md §4).  The engine instead keeps one long-lived
session per process, configured for scale:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) —
  at 100 TB the static plan is always wrong somewhere; AQE re-plans from
  observed shuffle statistics.
* ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this should be ~2-3× total executor cores (AQE coalesces
  down, so err high).
* Arrow enabled so the few Pandas-UDF operators (similarity, multimodal)
  move batches, not rows.
* Session timezone pinned to UTC so timestamp semantics are stable across
  driver machines (and match the DuckDB oracle used by the test harness).

It also owns the one materialization policy for shared intermediates:
:func:`share`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Configs that are correct for BOTH local[N] testing and a large cluster.
# Cluster-shape-dependent knobs (shuffle partitions, memory) are resolved in
# get_session() so they can follow the environment.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dims in this domain (suppliers/products/nation/region) are tiny; let
    # Spark map-side them aggressively.  32 MB is safe with 4 GB+ executors.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # 128 MB input splits — the parquet-scan default that keeps one task's
    # input comfortably in memory at any total data size.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # The events test table carries TIMESTAMP(NANOS) parquet, which Spark
    # refuses natively; read the raw int64 and convert in the catalog
    # (sources/catalog.py truncates ns→µs, matching DuckDB's cast).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(
    app_name: str = "kusuma_metamorph_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the process-wide SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured — on a real deployment the master
    comes from spark-submit and this argument is ignored.

    **Side effect:** the first call pins the *process* timezone to UTC
    (``os.environ["TZ"] = "UTC"`` + ``time.tzset()``), changing
    ``datetime.now()``/``date.today()`` behavior for any host application
    embedding this library.  This is required for correct
    timestamp rendering at PySpark's ``collect()`` boundary (see the
    in-body comment).  Opt out with ``SPARK_GRAFT_NO_TZ_PIN=1`` if the
    host owns its own timezone discipline — timestamp-emitting queries
    on a non-UTC host will then diverge from the UTC oracle.  Note the
    pin cannot retro-fix a JVM launched before the first call; a
    ``RuntimeWarning`` is emitted in that case.
    """
    # Pin the PROCESS timezone, not only the Spark session timezone.
    # `spark.sql.session.timeZone=UTC` (below) fixes SQL semantics, but
    # PySpark's collect() boundary renders TimestampType through
    # `datetime.fromtimestamp`, which uses the HOST zone — on a
    # non-UTC host every collected timestamp shifts by the host offset
    # while the data's semantics never moved (found by an r14
    # TZ=Pacific/Kiritimati invariance sweep: 16 timestamp-emitting
    # rows hash-diverged from the oracle by exactly +14 h).  Python's
    # now()/today() (snapshot stamps, freshness checks) pin with it.
    import time as _time

    if (
        os.environ.get("TZ") != "UTC"
        and not os.environ.get("SPARK_GRAFT_NO_TZ_PIN")
    ):
        if SparkSession.getActiveSession() is not None:
            import warnings

            warnings.warn(
                "kusuma_metamorph_etl_spark pinned TZ=UTC after a JVM was "
                "already launched; timestamps collected through the "
                "pre-existing session may still render in the old host "
                "zone.  Set TZ=UTC before the first SparkSession, or "
                "SPARK_GRAFT_NO_TZ_PIN=1 to suppress the pin.",
                RuntimeWarning,
                stacklevel=2,
            )
        os.environ["TZ"] = "UTC"
        if hasattr(_time, "tzset"):
            _time.tzset()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else (os.cpu_count() or 8)

    # Local-mode heap knob (r13 scale probe): Spark's default 1 GB driver
    # heap is a harness artifact on a 128 GiB box — at sf1.0 a single
    # localCheckpoint exceeds it.  `spark.driver.memory` set through the
    # builder is NOT honored once the JVM launch path is decided, so the
    # env var must translate to submit args BEFORE the first session.
    # On a real cluster memory comes from spark-submit and this is a
    # no-op.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        existing = os.environ.get("PYSPARK_SUBMIT_ARGS")
        if existing is None:
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                f"--driver-memory {mem} pyspark-shell"
            )
        elif "--driver-memory" not in existing:
            # A user-supplied PYSPARK_SUBMIT_ARGS (e.g. --packages) must
            # not silently drop the heap knob — the sf1.0 OOM it exists
            # to fix would reappear with no diagnostic (r13 ADVICE).
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                f"--driver-memory {mem} {existing}"
            )

    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in _BASE_CONF.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop the session.  Only for process shutdown — transformations share
    one session (unlike the reference's per-task lifecycle)."""
    spark.stop()


def share(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for all of its consumers — the engine's one
    primitive for a shared intermediate (a frame read by several plan
    branches or driver actions, or an iterative loop's per-round frame).

    Lineage is truncated either way, so the result is a snapshot: plans
    of iterative loops stay constant-depth, and a lost block fails loud
    instead of silently recomputing from a source that may have changed
    since the first read.  How the blocks are stored follows Spark's own
    deployment setting, so the engine adds no option of its own:

    * no checkpoint dir on the SparkContext (the default):
      ``localCheckpoint`` — unreplicated blocks on the executors that
      computed them.  Unlike ``persist()`` nothing is pinned in the
      CacheManager: the ContextCleaner releases the blocks once the last
      DataFrame referencing them is garbage-collected.  Losing an
      executor loses its blocks, and a later read fails with
      ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``;
    * a checkpoint dir set (``--conf spark.checkpoint.dir=<dir>`` or
      ``SparkContext.setCheckpointDir``): reliable ``checkpoint()`` into
      that directory, which survives executor loss at the cost of one
      write and read of the frame (a lazy share also computes the frame
      a second time to write it, after the first action that reads it —
      Spark's RDD-checkpoint contract).  Point it at a fault-tolerant
      filesystem on clusters with preemptible nodes or dynamic
      allocation.  The files stay after the job unless
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on.

    ``eager=False`` defers the materialization to the first action that
    reads the frame, so sharing costs no job of its own; ``eager=True``
    materializes now, for callers that need the snapshot before their
    source changes or goes away, or read a per-round signal from it.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)
