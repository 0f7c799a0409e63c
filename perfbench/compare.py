#!/usr/bin/env python3
"""Compare two result files written by run.py (in .bench_build/results/).

    python3 perfbench/compare.py <base.json> <new.json>

Prints each metric of both runs and new ÷ base. Refuses (exit 2) when the
runs are not like for like: a different workload, trace mode, run length,
number of query passes, cpu count, heap, Spark or JDK version.
"""
import json
import sys

LIKE_FOR_LIKE = ("workload", "trace", "seconds", "passes", "cpus", "heap", "spark_version",
                 "jdk_version")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        base = json.load(f)
    with open(sys.argv[2]) as f:
        new = json.load(f)
    diff = [k for k in LIKE_FOR_LIKE if base["stamp"].get(k) != new["stamp"].get(k)]
    if diff:
        for k in diff:
            print(f"not like for like: {k} {base['stamp'].get(k)!r} vs {new['stamp'].get(k)!r}")
        sys.exit(2)
    for name, m in base["metrics"].items():
        b = m["value"]
        n = new["metrics"].get(name, {}).get("value")
        ratio = f"{n / b:.3f}" if n is not None and b else "-"
        print(f"{name:32s} {b:14.6g} {n if n is not None else '-':>14} {ratio:>8} {m['unit']}")


if __name__ == "__main__":
    main()
