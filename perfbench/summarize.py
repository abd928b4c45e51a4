"""Summarize benchmark results across runs (seeds).

    python3 perfbench/summarize.py .perfbench/results/*.json [--out FILE]

Reads the result files run.py writes (one per workload, seed and trace
mode) and prints, per workload and metric, the run count, median,
quartiles and quartile spread as a share of the median (the figure a
metric's bound is compared with).  Where both traced and untraced runs of
a workload are given, the tracing overhead is the traced operation median
over the untraced one, minus one.  `--out` also writes the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict


def summarize(paths: list[str]) -> dict:
    values: dict = defaultdict(lambda: defaultdict(list))
    hosts: dict = defaultdict(list)
    for path in paths:
        with open(path) as f:
            res = json.load(f)
        mode = "layers" if res["trace"] else "end_to_end"
        key = (res["workload"], mode)
        for name, m in res["metrics"].items():
            values[key][name].append((m["value"], m["unit"]))
        hosts[res["workload"]].append(
            {k: res[k] for k in ("seed", "trace", "nproc", "load_1m_before",
                                 "load_1m_after", "source_digest",
                                 "git_commit")})
    out: dict = {}
    for (workload, mode), metrics in sorted(values.items()):
        table = {}
        for name, vals in metrics.items():
            xs = [v for v, _ in vals]
            q1, med, q3 = (statistics.quantiles(xs, n=4) if len(xs) > 1
                           else (xs[0],) * 3)
            table[name] = {"n": len(xs), "median": med, "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / med if med else 0.0,
                           "unit": vals[0][1]}
        out.setdefault(workload, {"runs": hosts[workload]})[mode] = table
    for workload, s in out.items():
        if "layers" in s and "end_to_end" in s:
            s["trace_overhead"] = (s["layers"]["trace.op_wall_s"]["median"]
                                   / s["end_to_end"]["wall_s"]["median"] - 1)
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("paths", nargs="+")
    p.add_argument("--out")
    args = p.parse_args()
    out = summarize(args.paths)
    for workload, s in out.items():
        for mode in ("end_to_end", "layers"):
            for name, m in s.get(mode, {}).items():
                if mode == "layers" and not m["median"]:
                    continue
                print(f"{workload:18} {name:36} n={m['n']:2} "
                      f"median={m['median']:<12.6g} q1={m['q1']:<12.6g} "
                      f"q3={m['q3']:<12.6g} spread={m['spread']:.3f} {m['unit']}")
        if "trace_overhead" in s:
            print(f"{workload:18} trace_overhead {s['trace_overhead']:+.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
