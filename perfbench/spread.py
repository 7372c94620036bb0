"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on one workload, in sequence, and prints
each metric's values, median and quartile spread (distance between the
first and third quartile over the median, as ``statistics.quantiles``
gives them) — the figure a metric's bound in BENCHMARK.json must stay
above. Run from the repository root:

    python3 perfbench/spread.py --workload pipelines --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        *_, context, result = (json.loads(line) for line
                               in out.stdout.strip().splitlines()[-2:])
        ctx = context["context"]
        print(json.dumps({"seed": seed, **result, "passes": {
            k: ctx[k] for k in ("warmup_pass_s", "timed_pass_s", "load1_start",
                                "load1_end")}}), flush=True)
        if not result["correct"]:
            print(f"seed {seed}: output check failed", file=sys.stderr)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        line = {"metric": k, "median": statistics.median(v), "values": v}
        if len(v) >= 2:
            line["iqr_share"] = stats.iqr_share(v)
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
