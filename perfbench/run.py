"""Repository benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the
seed (``perfbench/gen.py``) into a scratch directory inside the checkout,
runs the engine in a child process with one fresh JVM
(``perfbench/child.py``), checks every output outside the timed region
(``perfbench/checks.py``) and prints, as its last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
reports its per-layer metrics and writes the spans of the run to
``.perfbench_out/``.  The line before it is a fuller report: sample
counts, tail percentile, failure fraction, write amplification and the
host and toolchain versions.

Exits non-zero without a result when the engine is not present next to
the benchmark, and non-zero after printing the result when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, and the repository root for tools/
sys.path[:0] = [HERE, os.path.dirname(HERE)]

PACKAGE = "kusuma_metamorph_etl_spark"
CHILD_TIMEOUT_S = 165
MAX_CPUS = 4


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values) -> dict | None:
    """The highest percentile with at least ten samples beyond it, or None
    when there are too few samples for any."""
    n = len(values)
    if n < 11:
        return None
    return {"pct": 100 * (n - 10) / n, "value": sorted(values)[n - 11]}


def environment(cpus: int, res: dict) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": cpus,
        "mem_gib": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": res["spark"],
        "java": res["java"],
    }


def run_child(args, root: str, work: str, inputs: str, cpus: int) -> dict | None:
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
    )
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    cmd = [
        sys.executable,
        os.path.join(HERE, "child.py"),
        "--workload", args.workload,
        "--inputs", inputs,
        "--work", work,
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
    ]
    log = open(os.path.join(work, "child.log"), "w")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # the child's session holds the JVM and the Python workers too
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group_gone(proc.pid)
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "child.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return None
    with open(out) as f:
        return json.load(f)


def wait_group_gone(pgid: int, timeout_s: float = 30.0) -> None:
    """Wait until no live (non-zombie) process of group ``pgid`` is left."""
    import probe

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        procs = probe.proc_table().values()
        if not any(int(f[2]) == pgid and f[0] != "Z" for _, f in procs):
            return
        time.sleep(0.1)


def oracle_problems(workload: str, inputs: str, outputs: dict) -> tuple[int, list[str]]:
    """Compare the child's output summaries with DuckDB / batch twins."""
    import checks
    import workloads

    n, problems = 0, []
    for index, summaries in outputs.items():
        if workload == "nightly_retail":
            con = checks.duck(os.path.join(inputs, f"day{index}"))
        else:
            con = checks.duck(inputs)
        for name, got in summaries.items():
            n += 1
            found = list(got["problems"])
            if got["oracle"]:
                exclude = checks.STAMP_COLUMNS if name in workloads.NIGHTLY_MARTS else ()
                found += checks.compare(name, got, checks.oracle(con, got["oracle"], exclude))
            elif name == "sessionize_stream":
                found += checks.compare(name, got, summaries["evt_sessionize"])
            elif name == "stream_dual_write":
                found += checks.compare(name, got, checks.oracle(con, "SELECT * FROM events"))
            else:
                found.append(f"{name}: no check defined")
            problems += [f"pass {index}: {p}" for p in found]
        con.close()
    return n, problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    # SIGTERM unwinds like an exception, so the finally blocks below stop
    # the child's process group and delete the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        return fail(f"engine package {PACKAGE}/ not found under {root}")
    if not os.path.isfile(spec_path):
        return fail("BENCHMARK.json not found in the working directory")
    with open(spec_path) as f:
        spec = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")

    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.perf_counter()
        size = workloads.generate(args.workload, args.seed, inputs)
        gen_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        res = run_child(args, root, work, inputs, cpus)
        child_s = time.perf_counter() - t1
        if res is None:
            return fail("the engine run did not finish")
        n_checks, problems = oracle_problems(args.workload, inputs, res["outputs"])
        if res["check_error"]:
            problems.append("collecting outputs failed:\n" + res["check_error"])
        report, metrics = summarize(args, spec, res, size, n_checks, problems)
        report.update(environment(cpus, res), gen_s=gen_s, child_s=child_s, phases=res["phases"])
        if args.trace:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
                json.dump({"report": report, "passes": res["passes"]}, f, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    correct = report["failed"] == 0
    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def summarize(args, spec: dict, res: dict, size: dict, n_checks: int, problems: list[str]):
    passes = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    all_runs = res["warmup"] + res["passes"]
    attempted = sum(p["steps"] for p in all_runs) + n_checks
    failed = sum(len(p["failed"]) for p in all_runs) + len(problems)
    # a pass's time, estimated step-wise: each step's fastest time over the
    # timed passes, summed.  Other tenants of a shared host and passes still
    # warming up only add time, so the minimum is the steadiest estimate.
    step_s = {k: min(p["step_s"][k] for p in passes) for k in passes[0]["step_s"]}
    batch_s = sum(step_s.values())
    written = sum(p["bytes_landed"] for p in passes)
    read = sum(p["input_bytes"] for p in passes)
    end_to_end = {
        "batch_s": batch_s,
        "rows_per_s": size["input_rows"] / batch_s if batch_s else 0.0,
        "cpu_s": min(p["cpu_s"] for p in passes),
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": res["setup"]["setup_s"],
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": len(walls),
        "pass_s": walls,
        "step_s": step_s,
        "pass_s_tail": tail(walls),
        "failed_frac": failed / attempted if attempted else 0.0,
        "stored_bytes_per_input_byte": written / read if read else None,
        "input_rows": size["input_rows"],
        "input_bytes": size["input_bytes"],
        "attempted": attempted,
        "failed": failed,
        "setup": res["setup"],
        "end_to_end": end_to_end,
    }
    if not args.trace:
        names = spec["end_to_end"]
        values = end_to_end
    else:
        names = spec["per_layer"]
        traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
        values = {k: median([m[k] for m in res["layer"]]) for k in res["layer"][0]}
        values.update(
            {
                "session.start_s": res["setup"]["session.start_s"],
                "session.warmup_s": res["setup"]["session.warmup_s"],
                "pyworker.processes": res["pyworker_processes"],
                "host.canary_s": median(res["canary_s"]),
                "trace.overhead_s": median(traced) - median(walls),
            }
        )
        report["per_layer"] = values
    metrics = {}
    for m in names:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return report, metrics


if __name__ == "__main__":
    sys.exit(main())
