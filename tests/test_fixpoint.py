"""The shared convergence driver (operators/fixpoint.py): the checkpoint
job counts the delta, so no iterative operator runs a separate
``isEmpty``/``count`` probe; the observed count is filled on empty
inputs; the loud cap and the per-round log line."""

from __future__ import annotations

import logging
import threading

import pytest
from pyspark.sql import functions as F

from mapsplit_spark import tilemath as tm
from mapsplit_spark.operators.fixpoint import checkpoint_count, fixpoint

ZOOM = 13


def _with_timeout(fn, seconds=120):
    """Run ``fn`` in a thread so a blocking ``Observation.get`` fails
    the test instead of hanging the suite."""
    box = {}

    def run():
        try:
            box["value"] = fn()
        except Exception as e:  # re-raised in the test thread
            box["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "checkpoint_count blocked"
    if "error" in box:
        raise box["error"]
    return box["value"]


def _node_tiles(spark):
    pts = [(f"n{i}", float(tm.tile2lon(4000 + i % 4, ZOOM)) + 0.01,
            float(tm.tile2lat(3000 + i // 4, ZOOM)) - 0.001) for i in range(12)]
    from mapsplit_spark.operators.assign import assign_and_expand

    df = spark.createDataFrame(pts, "element_id string, lon double, lat double")
    return assign_and_expand(df, "element_id", "lon", "lat", ZOOM, 0.1)


def _chain(spark, depth, cols):
    """x1 → base, x2 → x1, ..., x{depth} → x{depth-1}."""
    rows = [("x1", "n0")] + [(f"x{i}", f"x{i - 1}") for i in range(2, depth + 1)]
    return spark.createDataFrame(rows, f"{cols[0]} string, {cols[1]} string")


def _sparse_knn_inputs(spark):
    """Points hundreds of km apart, so the first levels prove nothing
    and the ladders escalate; the seam query sends knn_hex to its
    brute-force tail."""
    pts = spark.createDataFrame(
        [(i, -40.0 + 3.0 * i, 10.0 + 2.0 * i) for i in range(12)]
        + [(12, 179.9, 0.0)],
        "point_id long, p_lon double, p_lat double",
    )
    qs = spark.createDataFrame(
        [(0, -39.4, 10.7), (1, -20.2, 23.1), (2, -179.95, 0.0)],
        "query_id long, q_lon double, q_lat double",
    )
    return qs, pts


def _knn_rows(df):
    return {(r.query_id, r.rank, r.point_id) for r in df.collect()}


def test_no_separate_convergence_probe(spark, monkeypatch):
    """Every iterative operator decides convergence from its checkpoint
    job alone: with ``isEmpty`` and ``count`` unavailable they all still
    run to their exact results."""
    from mapsplit_spark.operators.components import connected_components
    from mapsplit_spark.operators.knn import knn_bruteforce, knn_hex, knn_tiled
    from mapsplit_spark.operators.propagate import (
        propagate_newer,
        relation_tiles_fixed_point,
    )

    tiles = _node_tiles(spark).localCheckpoint(eager=True)
    n0 = {(r.tile_x, r.tile_y) for r in tiles.filter("element_id = 'n0'").collect()}
    rel = _chain(spark, 5, ("relation_id", "member_id"))
    edges = _chain(spark, 5, ("group_id", "member_id"))
    newer = spark.createDataFrame([("n0",)], "element_id string")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    qs, pts = _sparse_knn_inputs(spark)
    want_knn = _knn_rows(knn_bruteforce(qs, pts, k=3))

    def refuse(self, *a, **kw):
        raise AssertionError("separate convergence probe job")

    cls = type(spark.range(1))
    monkeypatch.setattr(cls, "isEmpty", refuse)
    monkeypatch.setattr(cls, "count", refuse)

    got = relation_tiles_fixed_point(rel, tiles).collect()
    assert {r.element_id for r in got} == {f"x{i}" for i in range(1, 6)}
    assert {(r.tile_x, r.tile_y) for r in got if r.element_id == "x5"} == n0
    got = {r.element_id for r in propagate_newer(edges, newer).collect()}
    assert got == {"n0"} | {f"x{i}" for i in range(1, 6)}
    want_cc = {(i, 0) for i in range(13)} | {(20, 20), (21, 20), (22, 20)}
    for cap in (0, None):
        got = {(r.v, r.component) for r in
               connected_components(pairs, driver_max_edges=cap).collect()}
        assert got == want_cc
    assert _knn_rows(knn_tiled(qs, pts, zoom=10, ring=1, k=3)) == want_knn
    assert _knn_rows(knn_hex(qs, pts, s_deg=0.5, k=3)) == want_knn


def test_checkpoint_count_on_empty_inputs(spark):
    """The observed count equals ``df.count()`` and is filled (n = 0)
    on every empty shape — an unfilled Observation blocks forever."""
    a = spark.range(100).withColumnRenamed("id", "k")
    e = spark.range(0).withColumnRenamed("id", "k")
    shapes = {
        "join_with_empty_side": a.join(e, "k"),
        "range0": spark.range(0),
        "empty_local_relation": spark.createDataFrame([], "k long"),
        "filter_false": a.filter(F.lit(False)),
        "anti_join_removes_all": a.join(a, "k", "left_anti"),
        "aggregate_over_empty_join": a.join(e, "k").groupBy("k").count(),
        "nonempty_join": a.join(a.filter("k < 40"), "k"),
    }
    for name, df in shapes.items():
        out, n = _with_timeout(lambda: checkpoint_count(df))
        assert n == df.count() == out.count(), name
    _, n = _with_timeout(lambda: checkpoint_count(a, F.col("k") % 10 == 0))
    assert n == 10


def test_propagate_newer_truncation_is_loud(spark):
    """A membership chain deeper than max_iters raises instead of
    returning a partially closed 'newer' set."""
    from mapsplit_spark.operators.propagate import propagate_newer

    edges = _chain(spark, 6, ("group_id", "member_id"))
    newer = spark.createDataFrame([("n0",)], "element_id string")
    with pytest.raises(RuntimeError, match="did not converge") as err:
        propagate_newer(edges, newer, max_iters=3)
    assert "not converged" in str(err.value)
    assert "changed 1 rows" in str(err.value)


def test_fixpoint_logs_each_round_and_caps(caplog):
    def step(n):
        return n - 1, n - 1

    with caplog.at_level(logging.INFO, logger="mapsplit_spark.operators.fixpoint"):
        assert fixpoint(step, 3, 5, "countdown") == 0
    rounds = [r.getMessage() for r in caplog.records]
    assert len(rounds) == 3
    assert rounds[0].startswith("countdown round 1: 2 changed in ")
    assert rounds[-1].startswith("countdown round 3: 0 changed in ")
    with pytest.raises(RuntimeError, match="max_iters=2 rounds: the last round changed 7"):
        fixpoint(step, 9, 2, "countdown")
