#!/usr/bin/env python3
"""Median and quartiles of every metric over saved benchmark runs.

    python3 perfbench/summarize.py                      # all runs in .perfbench_out/
    python3 perfbench/summarize.py --out summary.json   # also write the table as JSON

Every run of ``perfbench/run.py`` leaves its full result in
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``. This groups
them by workload and trace mode and prints, per metric, the median,
the first and third quartiles and their distance as a share of the
median (the spread the benchmark's bounds are compared with), plus the
run record of the group's first run (host, versions, confs, dataset).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def summarize(paths: list[str]) -> dict:
    groups: dict[str, list[dict]] = {}
    for path in sorted(paths):
        with open(path) as f:
            res = json.load(f)
        groups.setdefault(f"{res['workload']}/trace{res['trace']}", []).append(res)
    out = {}
    for key, runs in sorted(groups.items()):
        table = {}
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            med = statistics.median(values)
            q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                         else (values[0],) * 3)
            table[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                           "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
        out[key] = {"runs": len(runs), "seeds": [r["seed"] for r in runs],
                    "seconds": runs[0]["seconds"], "scale": runs[0]["scale"],
                    "op_samples_per_run": [r["op_samples"] for r in runs],
                    "failed": sum(r["failed"] for r in runs),
                    "attempted": sum(r["attempted"] for r in runs), "metrics": table,
                    "run_record": runs[0]["record"]}
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", default=os.path.join(ROOT, ".perfbench_out", "*-trace[01].json"))
    p.add_argument("--out")
    args = p.parse_args()
    summary = summarize(glob.glob(args.runs))
    for key, g in summary.items():
        print(f"== {key}: {g['runs']} runs, {g['failed']} of {g['attempted']} failed")
        for name, m in g["metrics"].items():
            print(f"  {name:<36} {m['median']:>12.4f} [{m['q1']:.4f}, {m['q3']:.4f}] "
                  f"{m['unit']:<6} spread {m['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
