"""Benchmark of the product CLIs on seeded inputs.

    python3 perfbench/run.py --workload split_sessions --seed 1 --seconds 12 --trace 0

Runs ``jobs/split_job.py:main`` or ``jobs/dedup_job.py:main`` in-process
under one benchmark-owned ``local[nproc]`` session, as a closed loop
with one client: the next CLI call starts when the previous one has
returned and its outputs have been checked.

* The seeded inputs are written once, before any timing.
* ``setup_s`` is the set-up: the JVM launch, the session start and one
  discarded warm-up iteration, where the CLI first loads its input.
* Timed iterations then run for ``--seconds`` (at least one);
  ``rows_per_s`` divides the input rows by their median wall time.  Each runs in a fresh output directory with the date
  file restored and the previous iteration's checkpoints and cached
  blocks released.
* Every iteration's outputs must reproduce the first iteration's
  order-independent digest; the first iteration is also checked against
  the independent oracles (``checks.py``).
* ``--trace 1`` alternates untraced and traced iterations and reports
  the per-layer metrics of ``trace.py`` instead of the end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full record, also written with the spans
under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import io
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# split_points is the control of the session, propagate, hole fill and
# clip layers (none of them runs there); the self-test runs it
WORKLOADS = ("split_sessions", "dedup_images", "split_points")
MAX_FAILED = 3  # stop early: a run whose iterations keep failing is reported
DEADLINE_S = 150  # stop iterating past this, so a run ends within 180 s
# below the workload's pair count, so the distributed components fixpoint
# (the path corpora past the 2M-pair default take) runs at bench size
CC_DRIVER_CAP = 1000
END_TO_END = {"rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies every input size (the self-test runs tiny)")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test only: damage the first output, so the "
                        "output check must fail")
    return p.parse_args(argv)


def configure_env(work: str, cores: int, trace: bool) -> None:
    """Pin the machine shape and keep every file the run writes in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_GRAFT_CC_DRIVER_MAX": str(CC_DRIVER_CAP),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    })
    if trace:
        os.environ["SPARK_EXTRA_UI"] = "1"  # REST API for per-stage metrics
    else:
        os.environ.pop("SPARK_EXTRA_UI", None)


def load_cli(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def cli_argv(workload: str, inputs: dict, out: str, cores: int) -> list[str]:
    if workload == "dedup_images":
        return ["--input", inputs["images"], "--output", out, "--cores", str(cores)]
    argv = ["--input", inputs["images"], "--output", out, "--zoom", "13", "--border", "0.1"]
    argv += ["--optimize", "2000", "--pyramid", "8",
             "--mbtiles", os.path.join(out, "tiles.mbtiles")]
    if workload == "split_points":
        return argv
    return argv + ["--sessions", inputs["sessions"], "--complete-sessions",
                   "--poly", inputs["poly"], "--zonal",
                   "--date-file", os.path.join(out, "latest.date")]


def pin_shape(n_cores: int) -> None:
    """Make every ``get_spark`` call, the CLIs' own included, keep
    ``local[n_cores]`` and ``2 * n_cores`` shuffle partitions.  split_job
    passes neither, and its ``max(2 * cores, 32)`` default would
    otherwise reset the benchmark session's setting."""
    import mapsplit_spark.session as session_mod

    get_spark = session_mod.get_spark

    def pinned(app: str = "mapsplit-spark", cores: int | None = None,
               shuffle_partitions: int | None = None):
        return get_spark(app, cores or n_cores, shuffle_partitions or 2 * n_cores)

    session_mod.get_spark = pinned


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    driver JVM and the Python workers), sampled while ``active``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.active = False
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active:
                self.peak = max(self.peak, self.total())

    def total(self) -> int:
        pids = descendants(os.getpid()) | {os.getpid()}
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                pass
        return total

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def release(spark) -> None:
    """Drop every cached block and checkpoint an earlier iteration left."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def highest_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 11:
        return None
    return int(100 * (1 - 10 / n))


class Bench:
    def __init__(self, args, cores: int, work: str):
        self.args = args
        self.cores = cores
        self.work = work
        self.inputs: dict = {}
        self.spark = None
        self.cli = None
        self.first_digest: dict | None = None
        self.oracle_failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.n_iter = 0
        self.bytes_out: list[int] = []

    def start_session(self):
        import mapsplit_spark.session as session_mod

        self.spark = session_mod.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")

    def iteration(self, tracer=None, rss=None) -> float | None:
        """One CLI call; returns its wall time, or None when it raised.
        An iteration that raised or whose outputs fail the check counts
        as failed.  ``rss`` samples memory during the call only."""
        from perfbench import checks

        self.n_iter += 1
        self.attempted += 1
        out = os.path.join(self.work, f"out-{self.n_iter}")
        prev = os.path.join(self.work, f"out-{self.n_iter - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        os.makedirs(out)
        if "appointment_ms" in self.inputs:
            with open(os.path.join(out, "latest.date"), "w") as fh:
                fh.write(str(self.inputs["appointment_ms"]))
        release(self.spark)
        argv = cli_argv(self.args.workload, self.inputs, out, self.cores)
        buf = io.StringIO()
        if rss is not None:
            rss.active = True
        t0 = time.perf_counter()
        try:
            with redirect_stdout(buf):
                if tracer is None:
                    self.cli.main(argv)
                else:
                    with tracer.installed():
                        self.cli.main(argv)
        except Exception as exc:  # a failed iteration is counted, not fatal
            print(f"iteration {self.n_iter} raised: {exc!r}", file=sys.stderr)
            self.failed += 1
            return None
        finally:
            if rss is not None:
                rss.active = False
        wall = time.perf_counter() - t0
        if self.args.corrupt and self.n_iter == 1:
            corrupt(out)
        digest = checks.digest(out)
        if self.first_digest is None:
            self.first_digest = digest
            self.oracle_failures = checks.oracle_check(
                self.args.workload, self.inputs, out, self.args.seed, CC_DRIVER_CAP)
            for msg in self.oracle_failures:
                print(f"output check: {msg}", file=sys.stderr)
        if digest != self.first_digest or self.oracle_failures:
            self.failed += 1
        self.bytes_out.append(checks.bytes_written(out))
        return wall

    def setup(self) -> list[float]:
        """Durations of session start and the warm-up CLI call, which
        loads the input; its output check is not timed."""
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        warm = self.iteration()
        if warm is None:
            raise RuntimeError("the warm-up iteration raised; see the error above")
        return [t1 - t0, warm]

    def stop(self) -> None:
        """Stop the session and the gateway JVM, and wait until the JVM
        and the Python workers it started have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        started = descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while any(map(alive, started)) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in filter(alive, started):
            os.kill(pid, signal.SIGKILL)


def corrupt(out: str) -> None:
    """Self-test hook: rewrite the first parquet output without its last row."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if os.path.isdir(path):
            table = pq.read_table(path)
            shutil.rmtree(path)
            os.makedirs(path)
            pq.write_table(table.slice(0, max(0, table.num_rows - 1)),
                           os.path.join(path, "part-0.parquet"))
            return


def machine(spark, cores: int, shuffle_partitions: str) -> dict:
    import pyspark

    return {
        "cores": cores,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "cli_shuffle_partitions": shuffle_partitions,
    }


def run(args, cores: int, work: str) -> dict:
    """One set-up, then timed iterations for ``args.seconds``, at least
    one (one of each kind in a traced run).  A warm split_sessions CLI
    call costs 17-25 s on a 4-core machine, nearly all of it per-job
    overhead, and its cold one 35-50 s: a second set-up or warm-up, or a
    second timed split iteration, would push a run well past a minute
    and a half, and a full benchmark (dozens of runs of each workload)
    past an hour."""
    from perfbench import datagen

    bench = Bench(args, cores, work)
    bench.inputs = datagen.write_inputs(args.workload, args.seed, args.scale,
                                        os.path.join(work, "inputs"))
    pin_shape(cores)
    bench.cli = load_cli("dedup_job" if args.workload == "dedup_images" else "split_job")
    rss = RssSampler()
    t_start = time.perf_counter()
    try:
        setup_parts = bench.setup()
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            levels = bench.inputs.get("depth", -1) + 1
            tracer = Tracer(bench.spark, bench.cli, levels)
        walls, traced = [], []
        t_end = time.perf_counter() + args.seconds
        deadline = t_start + DEADLINE_S
        while time.perf_counter() < t_end or not walls \
                or (tracer is not None and not traced):
            wall = bench.iteration(rss=rss)
            if wall is not None:
                walls.append(wall)
            if tracer is not None:
                tracer.iteration += 1
                wall = bench.iteration(tracer)
                if wall is not None:
                    traced.append(wall)
            if bench.failed >= MAX_FAILED or time.perf_counter() > deadline:
                break
        shuffle_partitions = bench.spark.conf.get("spark.sql.shuffle.partitions")
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "machine": machine(bench.spark, cores, shuffle_partitions),
            "inputs": {k: v for k, v in bench.inputs.items()
                       if k not in ("images", "sessions", "poly")},  # not the paths
            "setup_s": sum(setup_parts),
            "setup_parts_s": setup_parts,
            "wall_s": walls,
            "wall_median_s": statistics.median(walls) if walls else None,
            "samples": len(walls),
            "highest_percentile_with_10_beyond": highest_percentile(len(walls)),
            "digest": bench.first_digest,
            "oracle_failures": bench.oracle_failures,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "fail_ratio": bench.failed / bench.attempted,
            # recorded, not a metric: on split_sessions the incremental
            # rewrite is 5-10 merged tiles, so it swings ±50% with the seed
            "output_bytes_per_row": statistics.median(bench.bytes_out) / bench.inputs["rows"],
        }
        rows = bench.inputs["rows"]
        if not walls or (tracer is not None and not traced):
            raise RuntimeError("no iteration completed; see the errors above")
        if tracer is None:
            metrics = {
                "rows_per_s": rows / statistics.median(walls),
                "setup_s": sum(setup_parts),
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = END_TO_END
        else:
            from perfbench.trace import per_layer_units

            metrics = tracer.layer_metrics(cores)
            metrics["trace.traced_wall_s"] = statistics.median(traced)
            metrics["trace.untraced_wall_s"] = statistics.median(walls)
            metrics["trace.overhead_s"] = (metrics["trace.traced_wall_s"]
                                           - metrics["trace.untraced_wall_s"])
            units = per_layer_units()
            record["traced_wall_s"] = traced
            record["spans"] = len(tracer.spans)
        record["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if tracer is not None:
            tracer.dump(os.path.join(out_dir, f"{stem}-spans.json"))
        with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        return record
    finally:
        rss.close()
        bench.stop()


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("jobs/split_job.py", "jobs/dedup_job.py", "mapsplit_spark/session.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, cores, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        record = run(args, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    correct = record["failed"] == 0 and not record["oracle_failures"]
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
