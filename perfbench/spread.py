"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload graph_iter --seeds 1-10 --seconds 6

Runs the benchmark once per seed (sequentially) and prints, per metric, the
median and the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next to the
metric's bound in BENCHMARK.json. Raw results are appended to
`.perfbench/spread-<workload>.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from run import HERE, ROOT, WORK


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b range")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: rc={proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        env = [json.loads(line[len("perfbench: "):]) for line in proc.stderr.splitlines()
               if line.startswith('perfbench: {"workload"')]
        with open(log_path, "a") as f:
            f.write(json.dumps({"seed": seed, **res, "env": env[0]["env"] if env else None}) + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:16s} median {med:12.5g}  spread {spread:7.3%}  bound {bounds.get(k, float('nan')):.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
