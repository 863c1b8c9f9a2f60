"""Compare two result records written by run.py.

    python3 perfbench/compare.py .perfbench_out/A.json .perfbench_out/B.json

Prints each metric of both records and B's change relative to A.
Refuses (exit 2) when the records come from different machine shapes:
core count, pyspark or Java version, or when they measure different
workloads or modes.
"""

from __future__ import annotations

import json
import sys

SAME = ("cores", "pyspark", "java")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(path)) for path in argv)
    for key in SAME:
        if a["machine"][key] != b["machine"][key]:
            print(f"refusing to compare: {key} {a['machine'][key]} vs {b['machine'][key]}",
                  file=sys.stderr)
            return 2
    if a["workload"] != b["workload"] or a["metrics"].keys() != b["metrics"].keys():
        print("refusing to compare: different workloads or modes", file=sys.stderr)
        return 2
    for name, ma in a["metrics"].items():
        va, vb = ma["value"], b["metrics"][name]["value"]
        change = f"{(vb - va) / va:+.1%}" if va else "n/a"
        print(f"{name:36s} {va:14.4f} {vb:14.4f} {ma['unit']:6s} {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
