"""Per-layer spans for the traced run.

The layer functions are wrapped at run time, at the names the CLIs and
``operators/sessions.py`` look them up by; no program file changes.  A
span sets a Spark job group around its call, so the jobs, executor task
time, shuffle writes and spills of the span can be read back from the
REST API once the run ends.  A wrapped call whose result is a lazy
DataFrame is checkpointed eagerly inside its span, so the span holds
the layer's own work.  Row counts and other probes run after the span
closes, under their own job group, and their time is excluded from the
enclosing span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

import mapsplit_spark.operators.clip as clip_mod
import mapsplit_spark.operators.components as components_mod
import mapsplit_spark.operators.dedup as dedup_mod
import mapsplit_spark.operators.propagate as propagate_mod
import mapsplit_spark.operators.pyramid as pyramid_mod
import mapsplit_spark.operators.sessions as sessions_mod
import mapsplit_spark.sinks.mbtiles as mbtiles_mod

LAYERS = ["assign", "sessions", "holefill", "propagate", "propagate_newer",
          "clip", "optimize", "pyramid", "manifests", "mbtiles", "dedup",
          "components"]
LAYER_FIELDS = {"self_s": "s", "jobs": "count", "task_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_out": "count",
                "core_util": "ratio"}
# ratio -> (numerator, base); each ratio is reported with its base
RATIOS = {
    "assign.pairs_per_row": ("assign.rows_out", "assign.rows_in"),
    "optimize.tiles_out_per_tile_in": ("optimize.tiles_out", "optimize.tiles_in"),
    "clip.kept_ratio": ("clip.tiles_kept", "clip.tiles_in"),
    "holefill.tiles_added": (None, "holefill.tiles_in"),
    "propagate.jobs_per_level": ("propagate.jobs", "propagate.levels"),
    "dedup.pairs_per_candidate": ("dedup.rows_out", "dedup.candidates"),
}
TRACE_METRICS = {"trace.overhead_s": "s", "trace.traced_wall_s": "s",
                 "trace.untraced_wall_s": "s"}
# CLI output directory -> layer that owns its write
WRITE_LAYER = {"manifests": "manifests", "pyramid": "pyramid", "zones": "clip",
               "pairs": "dedup", "components": "components"}
PROBE_GROUP = "perfbench-probe"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run emits, with its unit."""
    units = {f"{layer}.{field}": unit for layer in LAYERS
             for field, unit in LAYER_FIELDS.items()}
    for ratio, (_, base) in RATIOS.items():
        units[ratio] = "count" if ratio == "holefill.tiles_added" else "ratio"
        units[base] = "count"
    units.update(TRACE_METRICS)
    return units


class Tracer:
    """Spans (name, start, end, parent, iteration) kept in memory."""

    def __init__(self, spark, cli, levels: int):
        self.sc = spark.sparkContext
        self.cli = cli
        self.levels = levels
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.iteration = 0

    # -- spans -------------------------------------------------------
    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextmanager
    def span(self, layer: str):
        rec = {"id": len(self.spans), "name": layer,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "iteration": self.iteration, "probe_s": 0.0, "counts": {}}
        rec["group"] = f"perfbench-{self.iteration}-{rec['id']}"
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_group(rec["group"], layer)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            top = self.stack[-1] if self.stack else None
            self._set_group(top and top["group"], top["name"] if top else "")

    @contextmanager
    def probe(self):
        """Untimed bookkeeping jobs; their time leaves the open span."""
        self._set_group(PROBE_GROUP, "probe")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            top = self.stack[-1] if self.stack else None
            if top is not None:
                top["probe_s"] += time.perf_counter() - t0
            self._set_group(top and top["group"], top["name"] if top else "")

    def wrap(self, layer: str, fn, counts=None):
        def traced(*args, **kwargs):
            with self.span(layer) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            with self.probe():
                if isinstance(out, DataFrame):
                    rec["counts"]["rows_out"] = out.count()
                if counts is not None:
                    rec["counts"].update(counts(args, kwargs, out))
            return out
        traced.__wrapped__ = fn
        return traced

    # -- installation ------------------------------------------------
    @contextmanager
    def installed(self):
        """Patch the layer entry points for the duration of the block."""
        sj = self.cli
        patches = [
            (sj, "assign_and_expand", "assign", _count_assign),
            (sessions_mod, "session_assignments", "sessions", None),
            (sessions_mod, "fill_holes", "holefill", _count_holefill),
            (sessions_mod, "relation_tiles_fixed_point", "propagate", None),
            (propagate_mod, "propagate_newer", "propagate_newer", None),
            (sj, "clip_tiles", "clip", _count_clip),
            (sj, "clip_assignments", "clip", None),
            (clip_mod, "zone_assign", "clip", None),
            (sj, "merged_assignments", "optimize", _count_tiles),
            (pyramid_mod, "pyramid_counts", "pyramid", None),
            (sj, "tile_manifests", "manifests", None),
            (mbtiles_mod, "export_mbtiles", "mbtiles", None),
            (dedup_mod, "hamming_near_dups", "dedup", _count_candidates),
            (components_mod, "connected_components", "components", None),
        ]
        # the split_job names exist only when tracing split_job
        patches = [p for p in patches if hasattr(p[0], p[1])]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _, _ in patches]
        orig_parquet = DataFrameWriter.parquet
        tracer = self

        def parquet(writer, path, *args, **kwargs):
            layer = WRITE_LAYER.get(os.path.basename(os.path.normpath(path)))
            if layer is None:
                return orig_parquet(writer, path, *args, **kwargs)
            with tracer.span(layer):
                return orig_parquet(writer, path, *args, **kwargs)

        try:
            for mod, name, layer, counts in patches:
                setattr(mod, name, self.wrap(layer, getattr(mod, name), counts))
            DataFrameWriter.parquet = parquet
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
            DataFrameWriter.parquet = orig_parquet

    # -- read back ---------------------------------------------------
    def stage_totals_by_group(self) -> dict[str, dict]:
        """job group -> {jobs, task_s, shuffle_write_mb, spill_mb} from
        the REST API (the UI listener is drained first)."""
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("traced run needs the Spark UI (SPARK_EXTRA_UI=1)")
        app = self.sc.applicationId
        base = f"{url}/api/v1/applications/{app}"
        jobs = _wait_for_final_jobs(base)
        stages = _get_json(f"{base}/stages?status=complete")
        owner: dict[int, str] = {}
        out: dict[str, dict] = defaultdict(
            lambda: {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0})
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            out[group]["jobs"] += 1
            for sid in job["stageIds"]:
                owner.setdefault(sid, group)
        for st in stages:
            group = owner.get(st["stageId"], "")
            agg = out[group]
            agg["task_s"] += st["executorRunTime"] / 1e3
            agg["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
            agg["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
        return dict(out)

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """Per-layer metrics: each traced iteration sums its spans per
        layer; the run reports the median over traced iterations."""
        totals = self.stage_totals_by_group()
        durations = {s["id"]: s["end"] - s["start"] for s in self.spans}
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += durations[s["id"]]
        per_iter: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            m = per_iter[s["iteration"]]
            name = s["name"]
            m[f"{name}.self_s"] += durations[s["id"]] - child[s["id"]] - s["probe_s"]
            for field, value in totals.get(s["group"], {}).items():
                m[f"{name}.{field}"] += value
            for key, value in s["counts"].items():
                m[f"{name}.{key}"] += value
        units = per_layer_units()
        rows = []
        for m in per_iter.values():
            m["propagate.levels"] = float(self.levels)
            for layer in LAYERS:
                busy = m[f"{layer}.self_s"] * cores
                m[f"{layer}.core_util"] = _ratio(m[f"{layer}.task_s"], busy)
            for ratio, (num, base) in RATIOS.items():
                if num is not None:
                    m[ratio] = _ratio(m[num], m[base])
            rows.append(m)
        return {name: statistics.median([m.get(name, 0.0) for m in rows] or [0.0])
                for name in units if name not in TRACE_METRICS}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _count_assign(args, kwargs, out) -> dict:
    return {"rows_in": args[0].count()}


def _count_holefill(args, kwargs, out) -> dict:
    tiles_in = args[0].count()
    # fill_holes returns its input plus the patched holes
    return {"tiles_in": tiles_in, "tiles_added": out.count() - tiles_in}


def _count_clip(args, kwargs, out) -> dict:
    return {"tiles_in": args[0].count(), "tiles_kept": out.count()}


def _count_tiles(args, kwargs, out) -> dict:
    return {
        "tiles_in": args[0].select("tile_x", "tile_y").distinct().count(),
        "tiles_out": out.select("zoom", "tile_x", "tile_y").distinct().count(),
    }


def _count_candidates(args, kwargs, out) -> dict:
    """Candidate pairs of the band join, counted on ``hamming_banded``:
    every pair of rows sharing a (band, bval) bucket."""
    df = args[0]
    id_col = kwargs.get("id_col", "image_id")
    hash_col = kwargs.get("hash_col", "phash")
    radius = kwargs.get("radius", 3)
    bits = kwargs.get("bits", 64)
    n_bands = kwargs.get("n_bands") or dedup_mod.auto_bands(df.count(), radius, bits)
    banded = dedup_mod.hamming_banded(df.select(id_col, hash_col), id_col, hash_col,
                                      n_bands, bits, radius)
    sizes = banded.groupBy("band", "bval").count()
    cand = sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0]
    return {"candidates": float(cand or 0)}


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _wait_for_final_jobs(base: str, timeout_s: float = 30.0):
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = _get_json(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            return jobs
        time.sleep(0.2)
