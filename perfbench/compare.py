#!/usr/bin/env python3
"""Compares two run records written by run.py to .bench_out/.

    python3 perfbench/compare.py A.json B.json

Refuses (exit 2) when the two runs were not taken under the same protocol:
same workload, trace mode, run length, master, cpus, heap, Spark and Java
versions, JIT flags, data and session conf. Seed and code may differ; comparing them
is the point. Prints each result metric of A and B and the ratio B/A.
"""
import json
import sys

PROTOCOL = ["workload", "trace", "seconds", "master", "cpus", "heap_mb",
            "spark", "java", "jvm_flags", "data", "sql_conf"]


def protocol_diff(a, b):
    """The protocol keys on which two stamps differ."""
    return [k for k in PROTOCOL if a.get(k) != b.get(k)]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fa, open(sys.argv[2]) as fb:
        a, b = json.load(fa), json.load(fb)
    diff = protocol_diff(a["stamp"], b["stamp"])
    if diff:
        for k in diff:
            print(f"protocol differs in {k}: {a['stamp'].get(k)} vs {b['stamp'].get(k)}")
        sys.exit(2)
    for k, va in a["result"].items():
        vb = b["result"].get(k)
        ratio = vb / va if vb is not None and va else float("nan")
        print(f"{k:40s} {va:14.6g} {vb if vb is not None else float('nan'):14.6g} {ratio:8.3f}")


if __name__ == "__main__":
    main()
