#!/usr/bin/env python3
"""Compare the metrics of two saved runs of the same workload.

    python3 perfbench/compare.py BASE/summary.json NEW/summary.json

Each run leaves `summary.json` under `.bench_build/perfbench/runs/<run>/`.
Runs made with different core counts or Spark local widths are not
comparable and are refused (exit 2).
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main(base_path, new_path):
    base, new = load(base_path), load(new_path)
    for key in ("nproc", "local_width"):
        a, b = base["record"]["env"][key], new["record"]["env"][key]
        if a != b:
            print(f"refusing to compare: {key} {a} vs {b}", file=sys.stderr)
            return 2
    if base["record"]["workload"] != new["record"]["workload"]:
        print("refusing to compare runs of different workloads", file=sys.stderr)
        return 2
    if base.get("trace") != new.get("trace"):
        print("refusing to compare a traced run with an untraced one", file=sys.stderr)
        return 2
    for k in sorted(base["metrics"]):
        a, b = base["metrics"][k], new["metrics"].get(k)
        if b is None:
            continue
        ratio = f"{b / a:.3f}x" if a else "n/a"
        print(f"{k:45s} {a:14.6g} {b:14.6g}  {ratio}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
