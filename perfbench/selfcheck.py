#!/usr/bin/env python3
"""Self-check of the benchmark at sf0.001.

    python3 perfbench/selfcheck.py [workload ...]

For every workload (default: all of them) runs ``run.py --scale tiny``
once untraced, once traced and once per part with a planted error, each
as its own process:

- untraced: the result line has exactly its four keys, the
  output check passes, and every end-to-end metric of BENCHMARK.json is
  present with its unit;
- traced: every per-layer metric of BENCHMARK.json and of the workload
  is present with its unit;
- with ``--plant-wrong <part>``, once for each part: the corrupted
  expected value makes every iteration's output check fail.

Exits non-zero and names each problem when anything is off.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result_line(workload: str, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--scale", "tiny", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def missing(metrics: dict, want: dict) -> list[str]:
    return [
        f"{name} [{unit}]"
        for name, unit in want.items()
        if metrics.get(name, {}).get("unit") != unit
        or not isinstance(metrics[name].get("value"), (int, float))
    ]


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from run import COMMON_UNITS
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for name in sys.argv[1:] or list(WORKLOADS):
        wl = WORKLOADS[name]
        plain = result_line(name, "--trace", "0")
        if set(plain) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{name}: result keys {sorted(plain)}")
        if not plain["correct"] or plain["failed"]:
            problems.append(f"{name}: output check failed on correct inputs")
        problems += [f"{name}: end-to-end {m} missing" for m in missing(plain["metrics"], e2e)]

        traced = result_line(name, "--trace", "1")
        want = {**per_layer, **COMMON_UNITS, **wl.layer_units}
        problems += [f"{name}: per-layer {m} missing" for m in missing(traced["metrics"], want)]

        planted = [
            result_line(name, "--trace", "0", "--plant-wrong", part) for part in wl.parts
        ]
        for part, res in zip(wl.parts, planted):
            if res["correct"] or res["failed"] != res["attempted"]:
                problems.append(f"{name}: a planted wrong {part} value was not caught")
        print(f"{name}: checked ({plain['attempted']} + {traced['attempted']} + "
              f"{sum(r['attempted'] for r in planted)} iterations)", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
