"""Executor loss: with a checkpoint dir on the SparkContext, every share
point (``session.share``) is a reliable ``checkpoint()``, so frames built
by a mart and by the graph operators re-read correctly after one executor
JVM is SIGKILLed.  Under ``localCheckpoint`` the same re-read fails with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``: the blocks died with the executor
and the truncated lineage cannot rebuild them.

The probe runs in its own process on a ``local-cluster`` master (real
executor JVMs, forked by that process's driver JVM), so the shared test
session never gets a checkpoint dir — setting one there would silently
switch every later test to reliable checkpoints.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

_PROBE = r"""
import datetime as dt
import json
import os
import signal
import sys
import time

from kusuma_metamorph_etl_spark.marts import customer_sales_report
from kusuma_metamorph_etl_spark.operators.graph import (
    connected_components,
    pagerank,
    triangles_per_vertex,
)
from kusuma_metamorph_etl_spark.session import get_session

ckpt_dir = sys.argv[1]
spark = get_session(
    app_name="executor-loss-probe",
    master="local-cluster[2,1,1024]",
    shuffle_partitions=4,
    extra_conf={
        "spark.checkpoint.dir": ckpt_dir,
        # keep all 4 shuffle partitions, so every frame's blocks spread
        # over both executors instead of coalescing onto one of them
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
)
sc = spark.sparkContext
jsc = sc._jsc.sc()


def executor_ids():
    return set(jsc.getExecutorIds().mkString(",").split(",")) - {""}


deadline = time.time() + 120
while len(executor_ids()) < 2:
    assert time.time() < deadline, "executors never registered"
    time.sleep(0.2)

sales = spark.createDataFrame(
    [
        (f"s{i}", i % 3, 10 + i % 4, 1 + i % 5, float(i % 3) * 10.0,
         dt.date(2024, 5, 1 + i % 28), "Cancelled" if i % 7 == 0 else "Shipped")
        for i in range(40)
    ],
    "SALE_ID string, PRODUCT_ID long, CUSTOMER_ID long, QUANTITY long,"
    " DISCOUNT double, SALE_DATE date, ORDER_STATUS string",
)
products = spark.createDataFrame(
    [(0, "Widget", "tools", 10.0, 100), (1, "Gadget", "toys", 20.5, 200),
     (2, "Doohickey", "toys", 3.25, 200)],
    "PRODUCT_ID long, PRODUCT_NAME string, CATEGORY string,"
    " SELLING_PRICE double, SUPPLIER_ID long",
)
customers = spark.createDataFrame(
    [(10, "Ada", "London"), (11, "Grace", "NYC"), (12, "Edsger", "Austin"),
     (13, "Barbara", "Boston")],
    "CUSTOMER_ID long, NAME string, CITY string",
)
# 5-clique plus a pendant path: 10 triangles, ranks and degrees that differ
graph = spark.createDataFrame(
    [(a, b) for a in range(5) for b in range(a + 1, 5)]
    + [(4, 5), (5, 6), (6, 7), (7, 0)],
    "a long, b long",
)
cc_edges = spark.createDataFrame(
    [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
)
frames = {
    "customer_sales_report": customer_sales_report(
        sales, products, customers,
        run_date="2024-06-01", run_ts="2024-06-01 00:00:00",
    ),
    "triangles_per_vertex": triangles_per_vertex(graph),
    "pagerank": pagerank(graph.toDF("src", "dst"), n_iter=5),
    "connected_components": connected_components(cc_edges),
}
before = {name: sorted(map(tuple, df.collect())) for name, df in frames.items()}


def children(pid):
    # (pid, argv) of every process whose parent is `pid`
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            if ppid != pid:
                continue
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        out.append((int(entry), argv))
    return out


# Only this process's own driver JVM and the executors it forked.
(driver,) = [p for p, argv in children(os.getpid()) if "java" in argv[0]]
executors = [
    (p, argv) for p, argv in children(driver)
    if any("CoarseGrainedExecutorBackend" in a for a in argv)
]
assert len(executors) == 2, executors
# The victim is the executor holding the most RDD blocks, so under
# localCheckpoint the loss always hits shared blocks (reduce tasks follow
# map-output locality, which can pile a frame's blocks onto one side).
rdd_blocks = {
    st.blockManagerId().executorId(): st.rddBlocks().size()
    for st in jsc.env().blockManager().master().getStorageStatus()
}
victim_pid, victim = max(
    ((p, argv[argv.index("--executor-id") + 1]) for p, argv in executors),
    key=lambda e: rdd_blocks.get(e[1], 0),
)
os.kill(victim_pid, signal.SIGKILL)
deadline = time.time() + 120
while victim in executor_ids():
    assert time.time() < deadline, "driver never noticed the lost executor"
    time.sleep(0.2)

errors, equal = {}, {}
for name, df in frames.items():
    try:
        equal[name] = sorted(map(tuple, df.collect())) == before[name]
    except Exception as e:  # the re-read failure is the result under test
        errors[name] = str(e)[:500]
print("PROBE_RESULT " + json.dumps({
    "checkpoint_dir": sc.getCheckpointDir(),
    "killed_executor": victim,
    "rdd_blocks": rdd_blocks,
    "cc_labels": {str(n): c for n, c in before["connected_components"]},
    "equal": equal,
    "errors": errors,
    "checkpoint_files": sum(len(f) for _, _, f in os.walk(ckpt_dir)),
}))
spark.stop()
"""


def test_shares_survive_executor_loss(tmp_path):
    """customer_sales_report, triangles_per_vertex, pagerank and
    connected_components each materialize once, lose one executor, and
    re-read to the same rows — from checkpoint files under the dir."""
    ckpt_dir = tmp_path / "ckpt"
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(ckpt_dir)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
        env=env,
    )
    assert proc.returncode == 0, f"stderr:\n{proc.stderr[-3000:]}"
    (line,) = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE_RESULT ")
    ]
    result = json.loads(line.removeprefix("PROBE_RESULT "))
    assert result["checkpoint_dir"], result
    assert result["errors"] == {}, result["errors"]
    assert result["equal"] == {
        "customer_sales_report": True,
        "triangles_per_vertex": True,
        "pagerank": True,
        "connected_components": True,
    }
    assert result["cc_labels"] == {
        "1": 1, "2": 1, "3": 1, "4": 1, "10": 10, "11": 10,
    }
    assert result["checkpoint_files"] > 0, "no checkpoint file landed"
