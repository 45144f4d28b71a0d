"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload python_udf --seeds 1-10 [--seconds 14]

Runs ``perfbench/run.py`` once per seed, one after another, and prints
for each metric its median over the runs and its spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``)
as a share of the median, next to a third of the metric's bound from
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from stats import median, spread  # noqa: E402


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, vs in values.items():
        sp = spread(vs) if len(vs) >= 2 and median(vs) else float("nan")
        b = bounds.get(k)
        print(f"{k:<28} median {median(vs):<12.5g} spread {sp:.4f}"
              + (f"  (bound/3 {b / 3:.4f})" if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
