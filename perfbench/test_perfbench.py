"""Self-check of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs one short traced run of each workload (sf0.001-0.002 inputs) from the
repository root, and checks the output contract: the last line is the
result object, every metric name is well-formed and declared in
BENCHMARK.json, the outputs are correct, the input sizes are the ones
perfbench/spec.json records, and the traced spans nest with non-negative
self times.  Takes a few minutes (one JVM per workload).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(ROOT, "perfbench", "spec.json")) as _f:
    INPUTS = {w["name"]: w["input_per_pass"] for w in json.load(_f)["workloads"]}


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for group in ("workloads", "end_to_end", "per_layer") for m in SPEC[group]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert len(SPEC["per_layer"]) <= 128


def test_generator_is_seeded(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen

    tables = ["lineitem", "documents", "events"]
    a = gen.write_catalog(str(tmp_path / "a"), 5, 0.001, tables)
    gen.write_catalog(str(tmp_path / "b"), 5, 0.001, tables)
    c = gen.write_catalog(str(tmp_path / "c"), 6, 0.001, tables)
    for t in tables:
        same = [(tmp_path / d / f"{t}.parquet").read_bytes() for d in ("a", "b", "c")]
        assert same[0] == same[1]
        assert same[0] != same[2]
    assert a == c  # row counts do not depend on the seed


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_one_traced_pass(workload):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
        "--seconds", "0", "--trace", "1",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert report["input_rows"] == INPUTS[workload]["rows"]
    assert abs(report["input_bytes"] / INPUTS[workload]["bytes_about"] - 1) < 0.02
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"] for m in SPEC["per_layer"]}
    assert set(result["metrics"]) == declared
    for name, metric in result["metrics"].items():
        assert NAME.fullmatch(name), name
        assert isinstance(metric["value"], (int, float))

    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed0-trace.json")) as f:
        trace = json.load(f)
    spans = [s for p in trace["passes"] for s in p.get("spans", [])]
    assert spans
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] >= s["start"]
        assert s["self_s"] >= -1e-6, s
        parent = by_id.get(s["parent"])
        if s["parent"] is not None:
            assert parent is not None and parent["pass"] == s["pass"]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"], s
