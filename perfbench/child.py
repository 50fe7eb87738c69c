"""One benchmark run inside one process and one fresh JVM.

Started by ``perfbench/run.py`` with the repository root on PYTHONPATH and
as working directory.  Sequence: set up the session (timed), run one
untimed warm-up pass (it captures outputs to check), run timed passes
until ``--seconds`` have passed and at least ``MIN_PASSES``, then collect
outputs for the parent's checks.
With ``--trace 1`` the timed passes alternate untraced and traced, and the
per-layer metrics come from the traced ones.  Writes one JSON document to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import probe  # noqa: E402
import workloads  # noqa: E402

# Timed passes a run makes at least: batch_s sums each step's fastest time
# over them, so a host burst in one or two passes does not move it, and a
# traced run can bracket its traced pass with untraced ones.
MIN_PASSES = 3


def canary(spark) -> float:
    """A fixed small query; its time tracks host load between passes."""
    t0 = time.perf_counter()
    spark.range(0, 200_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t0


def run_pass(wl, index: int, tracer, sampler, status, traced: bool, capture: dict | None = None) -> dict:
    """Run every step of pass ``index``; return its wall/CPU/failure record.

    With ``capture``, steps marked ``check`` collect their output into it
    instead of running their timed write (the untimed warm-up pass)."""
    tracer.enabled = traced
    tracer.pass_id = str(index)
    landed_since = time.time()
    cpu0, py0 = sampler.sample()
    t0 = time.perf_counter()
    failures: list[str] = []
    step_s: dict[str, float] = {}
    steps = wl.steps(index)
    share_peak = (0, 0)
    with tracer.span(f"pass{index}", "pass"):
        for step in steps:
            t_step = time.perf_counter()
            try:
                with tracer.span(f"{step.name}.build", "step"):
                    df = step.build()
                with tracer.span(f"{step.name}.exec", "step"):
                    if capture is not None and step.capture:
                        capture[step.name] = step.capture(df)
                    elif df is not None:
                        step.execute(df)
            except Exception:
                failures.append(step.name)
                traceback.print_exc(file=sys.stderr)
            step_s[step.name] = time.perf_counter() - t_step
            if traced:
                held = status.storage()
                share_peak = max(share_peak, held, key=lambda x: x[1])
    wall = time.perf_counter() - t0
    cpu1, py1 = sampler.sample()
    tracer.enabled = False
    landed, files = probe.dir_landed(wl.sinks, landed_since)
    return {
        "index": index,
        "traced": traced,
        "wall_s": wall,
        "step_s": step_s,
        "cpu_s": cpu1 - cpu0,
        "pyworker_cpu_s": py1 - py0,
        "steps": len(steps),
        "failed": failures,
        "bytes_landed": landed,
        "files_landed": files,
        "input_bytes": wl.pass_input_bytes(index),
        "share_blocks": share_peak[0],
        "share_bytes": share_peak[1],
    }


def layer_metrics(spans: list[dict], rec: dict, status) -> dict:
    """Per-layer metrics of one traced pass (inclusive of nested spans)."""
    by_id = {s["id"]: s for s in spans}

    def jobs_of(span) -> list[int]:
        ids = status.jobs(span["group"])
        for group in span["stream_groups"]:
            ids += status.jobs(group)
        return ids

    def subtree(span) -> list[dict]:
        kids = [s for s in spans if s["parent"] == span["id"]]
        return [span] + [k for c in kids for k in subtree(c)]

    def outermost(layer) -> list[dict]:
        out = []
        for s in spans:
            if s["layer"] != layer:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def inclusive(layer) -> tuple[float, int]:
        tops = outermost(layer)
        jobs = {j for s in tops for t in subtree(s) for j in jobs_of(t)}
        return sum(s["end"] - s["start"] for s in tops), len(jobs)

    m: dict[str, float] = {}
    m["sources.read_s"], m["sources.read_jobs"] = inclusive("sources.read")
    m["ingestion.feed_s"], m["ingestion.jobs"] = inclusive("ingestion.feed")
    m["quality.gate_s"], m["quality.jobs"] = inclusive("quality.gate")
    gates = [s for s in spans if s["layer"] == "quality.gate"]
    m["quality.gates_run"] = len(gates)
    m["quality.gates_failed"] = sum(s["failed"] for s in gates)
    m["sinks.write_s"], m["sinks.jobs"] = inclusive("sinks.write")
    m["sinks.bytes_written"] = rec["bytes_landed"]
    m["sinks.files_written"] = rec["files_landed"]
    m["sinks.stored_bytes_per_input_byte"] = (
        rec["bytes_landed"] / rec["input_bytes"] if rec["input_bytes"] else 0.0
    )
    all_jobs = {j for s in spans for j in jobs_of(s)}
    st = status.stages(all_jobs)
    m["spark.stages"] = st["stages"]
    m["spark.stages_skipped_frac"] = st["stages_skipped"] / st["stages"] if st["stages"] else 0.0
    for key in probe.STAGE_FIELDS:
        m[f"spark.{key}"] = st[key]
    m["pyworker.cpu_s"] = rec["pyworker_cpu_s"]
    m["share.blocks"] = rec["share_blocks"]
    m["share.peak_storage_bytes"] = rec["share_bytes"]
    m.update(stream_metrics(spans))
    for name in workloads.ALL_STEPS:
        for phase in ("build", "exec"):
            hits = [s for s in spans if s["name"] == f"{name}.{phase}"]
            m[f"{name}.{phase}_s"] = sum(s["end"] - s["start"] for s in hits)
            m[f"{name}.{phase}_jobs"] = len(
                {j for s in hits for t in subtree(s) for j in jobs_of(t)}
            )
    return m


def stream_metrics(spans: list[dict]) -> dict:
    from kusuma_metamorph_etl_spark.streaming.metrics import progress_rows

    m = dict.fromkeys(
        [
            "streaming.batches",
            "streaming.trigger_s",
            "streaming.input_rows",
            "streaming.state_rows",
            "streaming.state_memory_bytes",
        ],
        0.0,
    )
    for query in (q for span in spans for q in span["stream_queries"]):
        rows = progress_rows(query)
        m["streaming.batches"] += len(rows)
        m["streaming.input_rows"] += sum(r["num_input_rows"] for r in rows)
        m["streaming.state_rows"] = max(
            [m["streaming.state_rows"]] + [r["state_rows_total"] for r in rows]
        )
        for p in query.recentProgress:
            m["streaming.trigger_s"] += (p.get("durationMs") or {}).get("triggerExecution", 0) / 1e3
            mem = sum(int(s.get("memoryUsedBytes") or 0) for s in p.get("stateOperators") or [])
            m["streaming.state_memory_bytes"] = max(m["streaming.state_memory_bytes"], mem)
    return m


def summarize_outputs(collected: dict, index: int) -> dict:
    """Hash every collected output; attach the DuckDB oracle SQL of the
    steps that have one and any problem found here."""
    from kusuma_metamorph_etl_spark import registry

    oracles = registry.oracle_sql()
    out = {}
    for name, got in collected.items():
        cols, rows = got["columns"], got["rows"]
        problems = []
        if name in workloads.NIGHTLY_MARTS:
            summary = checks.summarize(cols, rows, checks.STAMP_COLUMNS)
            day = workloads.gen.run_date(index)
            stamps = {r["day_dt"] for r in rows}
            if not stamps <= {day}:
                problems.append(f"{name}: DAY_DT {stamps} != {day}")
        else:
            summary = checks.summarize(cols, rows)
        summary.update(problems=problems, oracle=oracles.get(name))
        out[name] = summary
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from kusuma_metamorph_etl_spark.session import get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={args.work}",
        },
    )
    t1 = time.perf_counter()
    from kusuma_metamorph_etl_spark import registry

    registry.queries()
    t2 = time.perf_counter()
    canary(spark)
    t3 = time.perf_counter()
    setup = {"setup_s": t3 - t0, "session.start_s": t1 - t0, "registry_s": t2 - t1, "session.warmup_s": t3 - t2}

    tracer = probe.Tracer(spark)
    status = probe.StatusReader(spark)
    wl = workloads.WORKLOADS[args.workload](spark, args.inputs, args.work, tracer)
    if args.trace:
        tracer.instrument()
    sampler = probe.TreeSampler()

    phases = {"setup_s": setup["setup_s"]}
    t4 = time.perf_counter()
    captured: dict = {}
    warm = [run_pass(wl, 0, tracer, sampler, status, traced=False, capture=captured)]
    passes, canaries, layer = [], [], []
    index = 1
    start = time.perf_counter()
    phases["warmup_s"] = start - t4
    while len(passes) < MIN_PASSES or (
        time.perf_counter() - start < args.seconds and index <= wl.max_passes
    ):
        canaries.append(canary(spark))
        # traced passes alternate with untraced ones, so the overhead
        # estimate is not biased by passes still warming up
        traced = bool(args.trace) and index % 2 == 0
        tracer.spans = []
        rec = run_pass(wl, index, tracer, sampler, status, traced)
        passes.append(rec)
        if traced:
            layer.append(layer_metrics(tracer.spans, rec, status))
            rec["spans"] = [
                {k: v for k, v in s.items() if k != "stream_queries"} for s in tracer.spans
            ]
            own = probe.self_times(tracer.spans)
            for s in rec["spans"]:
                s["self_s"] = own[s["id"]]
        index += 1
    peak = probe.peak_rss_mb()
    t5 = time.perf_counter()
    phases["timed_s"] = t5 - start

    outputs, check_error = {}, None
    try:
        for i in sorted({0, passes[-1]["index"]}):
            got = dict(captured) if i == 0 else {}
            got.update(wl.collect(i))
            if got:
                outputs[str(i)] = summarize_outputs(got, i)
    except Exception:
        check_error = traceback.format_exc()
        traceback.print_exc(file=sys.stderr)

    phases["collect_s"] = time.perf_counter() - t5
    result = {
        "setup": setup,
        "phases": phases,
        "warmup": warm,
        "passes": passes,
        "canary_s": canaries,
        "peak_rss_mb": peak,
        "pyworker_processes": len(sampler.worker_pids),
        "layer": layer,
        "outputs": outputs,
        "check_error": check_error,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
