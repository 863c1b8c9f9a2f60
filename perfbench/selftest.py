"""Self-test of the benchmark at half the input size.

    python3 perfbench/selftest.py

For every workload of run.py (split_points too, the control that runs
no session, propagate, hole fill or clip layer), a run with ``--trace 0``
must emit every end-to-end metric of BENCHMARK.json and a run with
``--trace 1`` every per-layer metric, each with its declared unit, and
both must pass the output check.  The traced runs must show the layers
each workload is there for.  A run that damages its first output (``--corrupt``) must
fail the check.  The dedup check itself requires more pairs than the
components driver cap, so a passing dedup run took the distributed
path.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.5"  # the smallest dedup input whose pairs exceed the driver cap
TILE_LAYERS = ("assign", "sessions", "holefill", "propagate", "propagate_newer",
               "clip", "optimize", "pyramid", "manifests", "mbtiles")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL {msg}")
    print(f"ok   {msg}")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for workload in WORKLOADS:
        for trace in (0, 1):
            res = run(workload, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == declared[trace], f"{workload} trace={trace} emits every metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{workload} trace={trace} passes the output check")
        layers = {k: v["value"] for k, v in res["metrics"].items()}
        if workload == "split_sessions":
            expect(layers["propagate.jobs"] > 0 and layers["holefill.tiles_added"] > 0,
                   "split_sessions runs the relation fixed point and adds holes")
            expect(all(layers[f"{layer}.jobs"] > 0 for layer in TILE_LAYERS),
                   "split_sessions runs every tile layer")
        if workload == "dedup_images":
            expect(layers["dedup.jobs"] > 0 and layers["components.jobs"] > 0
                   and all(layers[f"{layer}.self_s"] == 0 for layer in TILE_LAYERS),
                   "dedup_images runs dedup and components and no tile layer")
        if workload == "split_points":
            expect(all(layers[f"{layer}.self_s"] == 0 for layer in
                       ("sessions", "propagate", "holefill", "clip")),
                   "split_points records no session, propagate, hole fill or clip span")
    res = run(WORKLOADS[0], 0, "--corrupt")
    expect(not res["correct"] and res["failed"] > 0, "a corrupted output fails the check")
    return 0


if __name__ == "__main__":
    sys.exit(main())
