"""Run the benchmark on several seeds and summarise how steady it is.

    python3 perfbench/steadiness.py --workload db_diff --seeds 1-10 --label set-a

Runs ``perfbench/run.py`` once per seed, one run at a time, from the root
of the checkout, and prints per end-to-end metric the median of the runs
and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. With
``--record FILE`` the summary is also appended to that JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None,
                   help="run length (default: run_seconds of BENCHMARK.json)")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--label", default="")
    p.add_argument("--record", default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, wall
        summary_line = [x for x in lines if x.startswith("perfbench summary: ")]
        if summary_line:
            res["summary"] = json.loads(summary_line[-1].split(": ", 1)[1])
        runs.append(res)
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    names = list(runs[0]["metrics"])
    summary = {
        "workload": args.workload, "label": args.label, "seconds": seconds,
        "trace": args.trace, "seeds": [r["seed"] for r in runs],
        "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
        "wall_s": spread([r["wall_s"] for r in runs]),
        "metrics": {n: spread([r["metrics"][n]["value"] for r in runs]) for n in names},
        "runs": runs,
    }
    for n, s in summary["metrics"].items():
        print(f"{n:>16}: median {s['median']:.4g}  spread {s['spread']:.3f}")
    print(f"{'run wall':>16}: median {summary['wall_s']['median']:.1f}s")
    if args.record:
        rec = []
        if os.path.exists(args.record):
            with open(args.record) as fh:
                rec = json.load(fh)
        rec.append(summary)
        with open(args.record, "w") as fh:
            json.dump(rec, fh, indent=1)
    return 0 if summary["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
