"""Self-test of the benchmark, at tiny input sizes.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json and the code agree on workloads and metrics,
that every workload prints every end-to-end metric (untraced) and every
per-layer metric (traced) by name with unit and sample count, that the
outputs pass their correctness checks, and that the benchmark fails fast,
without a result, when the engine package is not in the checkout.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, WORK_ROOT  # noqa: E402
from probes import PER_LAYER  # noqa: E402
from run import END_TO_END  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

METRIC_LINE = re.compile(r"^metric (\S+) = (\S+) (\S+) \(n=(\d+(?:\.\d+)?), source=.+\)$")


def check(cond, msg):
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def check_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    check({w["name"] for w in cfg["workloads"]} == set(WORKLOADS),
          "BENCHMARK.json workloads differ from the code's")
    check({m["name"]: m["unit"] for m in cfg["end_to_end"]} == END_TO_END,
          "BENCHMARK.json end_to_end differs from run.END_TO_END")
    check({m["name"]: m["unit"] for m in cfg["per_layer"]} == PER_LAYER,
          "BENCHMARK.json per_layer differs from probes.PER_LAYER")
    return cfg


def run(cmd, cwd):
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout, p.stderr


def check_workload(cfg, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    rc, out, err = run(cmd, ROOT)
    check(rc == 0, f"{workload} trace={trace} exited {rc}:\n{err[-3000:]}")
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, "result keys")
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
          f"{workload} trace={trace}: correct={result['correct']} failed={result['failed']}")
    want = END_TO_END if not trace else PER_LAYER
    printed = {}
    for line in lines[:-1]:
        m = METRIC_LINE.match(line)
        if m:
            printed[m.group(1)] = m.group(3)
    check(printed == want, f"{workload} trace={trace}: printed metrics differ: "
          f"missing {sorted(set(want) - set(printed))}, extra {sorted(set(printed) - set(want))}")
    check({k: v["unit"] for k, v in result["metrics"].items()} == want,
          f"{workload} trace={trace}: JSON metrics differ from the spec")
    print(f"ok {workload} trace={trace}: {len(want)} metrics, "
          f"attempted={result['attempted']}", flush=True)


def check_fail_fast():
    """A directory holding only BENCHMARK.json and perfbench/: no engine."""
    bare = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, out, _ = run([sys.executable, "perfbench/run.py", "--workload", "bulk_build",
                          "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
        check(rc != 0, "run without the engine exited 0")
        check(not any(line.startswith("{") for line in out.splitlines()),
              "run without the engine printed a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok fail-fast without the engine", flush=True)


def main():
    cfg = check_config()
    print("ok BENCHMARK.json matches the code", flush=True)
    check_fail_fast()
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_workload(cfg, workload, trace)
    print("selftest passed")


if __name__ == "__main__":
    main()
