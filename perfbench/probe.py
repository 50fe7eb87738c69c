"""Measurement from outside the engine: process-tree CPU and memory from
``/proc``, Spark job/stage statistics from the driver's status store, and
the span tracer used by traced runs.

Nothing here changes engine code.  Traced runs wrap the engine's public
module functions at runtime (``Tracer.instrument``) so that every call
into a layer opens a span with its own Spark job group.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import sys
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")

# layer -> (module, public functions) wrapped in traced runs
LAYERS = {
    "sources.read": [
        ("kusuma_metamorph_etl_spark.sources.catalog", ["load_table"]),
        ("kusuma_metamorph_etl_spark.sources.csv", ["read_csv"]),
    ],
    "ingestion.feed": [("kusuma_metamorph_etl_spark.ingestion", ["ingest_feed"])],
    "quality.gate": [
        (
            "kusuma_metamorph_etl_spark.plans.quality",
            [
                "duplicate_gate",
                "null_policy",
                "row_count_gate",
                "referential_gate",
                "schema_drift_gate",
                "volume_anomaly_gate",
            ],
        )
    ],
    "sinks.write": [
        (
            "kusuma_metamorph_etl_spark.sources.sinks",
            ["dual_write", "publish_snapshot", "read_published", "read_legacy"],
        )
    ],
}


# ---------------------------------------------------------------- /proc


def proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), fields)
    return out


def process_tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and all its live descendants."""
    table = proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            tree[pid] = table[pid][1]
            todo.extend(children.get(pid, ()))
    return tree


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _cpu(fields: list[str]) -> float:
    # utime stime cutime cstime: own CPU plus that of reaped children
    return sum(int(v) for v in fields[11:15]) / CLK_TCK


class TreeSampler:
    """CPU seconds of this process's tree, split into the PySpark worker
    processes (``pyspark.daemon`` and its forks) and everything else."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._workers: dict[int, bool] = {}
        self.worker_pids: set[int] = set()

    def _is_worker(self, pid: int) -> bool:
        if pid not in self._workers:
            # the daemon and its forked workers; the JVM's own command line
            # also mentions "pyspark-shell", so match the module name
            self._workers[pid] = "pyspark.daemon" in _cmdline(pid)
        return self._workers[pid]

    def sample(self) -> tuple[float, float]:
        """(tree CPU s, PySpark-worker CPU s).  Workers reaped by the daemon
        land in its cutime, so the sums only grow."""
        tree = process_tree(self.root)
        total = _cpu(tree.pop(self.root)) if self.root in tree else 0.0
        workers = 0.0
        for pid, fields in tree.items():
            cpu = _cpu(fields)
            total += cpu
            if self._is_worker(pid):
                workers += cpu
                self.worker_pids.add(pid)
        return total, workers


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of ``VmHWM`` over the live process tree, in MiB."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def dir_landed(path: str, since: float) -> tuple[int, int]:
    """(bytes, files) under ``path`` written at or after ``since``."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                st = os.stat(os.path.join(root, name))
            except OSError:
                continue
            if st.st_mtime >= since:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


# ------------------------------------------------------- Spark status store

STAGE_FIELDS = (
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class StatusReader:
    """Jobs per job group and their stage statistics, read through the
    status tracker and the driver's ``AppStatusStore`` (both work with
    ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids) -> dict:
        """Summed stage statistics over the given jobs (stages counted once)."""
        stage_ids = set()
        for job in job_ids:
            info = self.tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["stages"] = len(stage_ids)
        skipped = 0
        for sid in stage_ids:
            it = self.store.stageData(sid, False, self._no_status, False, self._no_quantiles).iterator()
            while it.hasNext():
                d = it.next()
                if d.status().toString() == "SKIPPED":
                    skipped += 1
                    continue
                out["tasks"] += d.numTasks()
                out["tasks_failed"] += d.numFailedTasks()
                out["executor_run_s"] += d.executorRunTime() / 1e3
                out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                out["gc_s"] += d.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        out["stages_skipped"] = skipped
        return out

    def storage(self) -> tuple[int, int]:
        """(cached/checkpointed blocks, bytes) currently held."""
        blocks = nbytes = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            nbytes += info.memSize() + info.diskSize()
        return blocks, nbytes


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans with one Spark job group each.

    A span has a name, a layer, start/end, a parent and the pass it
    belongs to.  Disabled tracers cost one attribute check per call.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.pass_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "failed": False,
            "stream_groups": [],
            "stream_queries": [],
        }
        span["group"] = f"perfbench-{span['id']}"
        self.sc.setLocalProperty("spark.jobGroup.id", span["group"])
        self._stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        except BaseException:
            span["failed"] = True
            raise
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None
            )
            self.spans.append(span)

    def instrument(self) -> None:
        """Wrap every LAYERS function, in its module and in every engine
        module that imported it by name."""
        for layer, entries in LAYERS.items():
            for module_name, names in entries:
                module = importlib.import_module(module_name)
                for fname in names:
                    orig = getattr(module, fname)
                    wrapped = self._wrap(orig, f"{layer}:{fname}", layer)
                    for mod in list(sys.modules.values()):
                        if not getattr(mod, "__name__", "").startswith("kusuma_metamorph_etl_spark"):
                            continue
                        for attr, value in list(vars(mod).items()):
                            if value is orig:
                                setattr(mod, attr, wrapped)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> own duration minus its direct children's."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
