"""Smoke run of the benchmark at a small size.

    python3 perfbench/smoke.py

Runs every workload of ``BENCHMARK.json`` once timed and once traced on
a tenth-size corpus, and asserts that each run passes its correctness
check and prints exactly the metrics ``BENCHMARK.json`` names, each with
its unit. Exits non-zero on the first run that does not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.1"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for workload in (w["name"] for w in bench["workloads"]):
        for trace in ("0", "1"):
            run = f"{workload} --trace {trace}"
            proc = subprocess.run(
                bench["command"] + ["--workload", workload, "--seed", "7",
                                    "--seconds", "1", "--trace", trace,
                                    "--scale", SCALE],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
            if proc.returncode or not result.get("correct"):
                print(f"FAIL {run}: exit {proc.returncode}, {result}")
                return 1
            if got != want[trace]:
                diff = sorted(set(got.items()) ^ set(want[trace].items()))
                print(f"FAIL {run}: metrics or units differ: {diff}")
                return 1
            print(f"ok {run}: {len(got)} metrics, "
                  f"{result['attempted']} crawls checked", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
