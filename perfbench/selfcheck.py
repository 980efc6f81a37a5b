"""Self-check of the benchmark on a tiny corpus (a few minutes on 4 cores).

    python3 perfbench/selfcheck.py

For every workload it runs ``run.py --size small`` untraced and traced and
requires a correct result that carries every metric BENCHMARK.json names,
each with its declared unit. It then corrupts one cached oracle golden and
requires the next run to report the mismatch (``failed`` > 0, ``correct``
false). The corrupted golden is deleted afterwards, so later runs recompute
it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SEED = 7


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    from perfbench import inputs
    from perfbench.run import WORKLOADS, workload_inputs

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in WORKLOADS:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(workload, trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{workload} trace={trace}: not correct ({res['failed']} failed)")
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{workload} trace={trace}: {m['name']} missing or wrong unit")
            print(f"{workload} trace={trace}: {len(res['metrics'])} metrics, "
                  f"attempted {res['attempted']}, failed {res['failed']}")

    workload = next(iter(WORKLOADS))
    params, cfg = workload_inputs(workload, "small")
    path = inputs.golden_path(inputs.corpus(SEED, params), cfg)
    with open(path) as f:
        gold = json.load(f)
    gold["seen"] = gold["seen"][1:]
    with open(path, "w") as f:
        json.dump(gold, f)
    try:
        res = run(workload, 0)
    finally:
        os.remove(path)
    if res["correct"] or res["failed"] == 0:
        problems.append("a corrupted golden did not fail the run")
    print(f"corrupted golden: correct={res['correct']} failed={res['failed']}")

    if problems:
        sys.exit("selfcheck FAILED:\n  " + "\n  ".join(problems))
    print("selfcheck ok")


if __name__ == "__main__":
    main()
