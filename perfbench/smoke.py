#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs one short pass of every workload on the small inputs (``--smoke``:
the sf0.001 fixtures and a 2-copy tier), untraced and traced, and asserts:

* every metric of ``BENCHMARK.json`` prints with its name and unit, and the
  file agrees with ``run.py`` and ``LAYERS.json``;
* every op is correct (``error_rate`` 0);
* the traced runs write spans for every layer of ``run.LAYER_SPANS``;
* in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command exits non-zero without printing a result.

Exits 0 when all hold; prints what failed otherwise.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def launch(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    problems: list[str] = []
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if e2e != run.END_TO_END:
        problems.append(f"BENCHMARK.json end_to_end {e2e} != run.END_TO_END")
    if layer != run.PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from run.PER_LAYER")
    if set(json.loads((HERE / "LAYERS.json").read_text())) != set(run.PER_LAYER):
        problems.append("LAYERS.json keys differ from run.PER_LAYER")
    if [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from run.WORKLOADS")

    spans: set[str] = set()
    for workload in run.WORKLOADS:
        for trace, want in ((0, e2e), (1, layer)):
            proc = launch(ROOT, workload, trace)
            lines = proc.stdout.strip().splitlines()
            tag = f"{workload} --trace {trace}"
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got)} != {sorted(want)}")
            if result["failed"] or not result["correct"] or "error_rate 0.0000 ratio" not in lines:
                problems.append(f"{tag}: error_rate is not 0\n{proc.stderr[-2000:]}")
            if trace:
                path = next(x.split(" ", 1)[1] for x in lines if x.startswith("spans "))
                spans |= {s["name"] for s in json.loads(Path(path).read_text())}
            print(f"ok {tag}", flush=True)
    missing = set(run.LAYER_SPANS) - spans
    if missing:
        problems.append(f"no spans for layers {sorted(missing)}")

    bare = run.CACHE / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = launch(bare, next(iter(run.WORKLOADS)), 0)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        problems.append("the benchmark did not fail without the program")
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"FAIL {p}")
    print("smoke ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
