"""Grid-density spatial clustering (DBSCAN over the tile grid).

Engine addition — hotspot detection over the point corpus: the classic
grid-based DBSCAN reduction (cells with ≥ ``min_pts`` members are
"dense"; 8-connected dense cells merge into one cluster).  The
reference's per-tile histograms (MapSplit.java:867-883) stop at counts;
a training-data pipeline over geotagged images needs the next step —
"which contiguous urban blobs exist, and which cluster does each image
belong to" — e.g. to cap per-region sampling or to split hot regions
into their own output partitions.

Spark-first shape (no per-point pairwise work, no theta join):

1. assign + per-cell count — one partially-aggregated shuffle, exactly
   the A2 ``tile_counts`` shape;
2. dense-cell adjacency by SCATTER: each dense cell map-side emits its
   ≤ 8 clamped neighbour keys, then ONE equi-join against the dense
   key set — candidate edges are bounded by 8·|dense|, never |dense|²
   (the DuckDB oracle states the |dense|² theta join directly; the
   engine never plans one);
3. cluster ids via ``connected_components`` (min-label + pointer
   jumping, O(log diameter) rounds) — isolated dense cells fall back
   to their own key.

At 100 TB the per-point stage is the only one that touches raw rows
(one shuffle of (cell, partial-count)); everything after operates on
the dense-cell relation, which is bounded by the grid (4^zoom), not by
the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .assign import assign_tiles
from .components import connected_components
from .fixpoint import checkpoint_count

# cluster_points broadcast guard: dense-cell relations above this row
# count join by shuffle instead of broadcast (3 longs/row ⇒ the default
# ~5M rows is ~120 MB built — safely under the 8 GB broadcast cap with
# headroom on every executor)
CLUSTER_BROADCAST_MAX_CELLS = int(
    os.environ.get("SPARK_GRAFT_CLUSTER_BCAST_MAX", "5000000"))


def cell_key(tile_x, tile_y, zoom: int):
    """Portable scalar cell id: tile_x · 2^zoom + tile_y (bigint)."""
    side = 1 << zoom
    return (F.col(tile_x) if isinstance(tile_x, str) else tile_x).cast(
        "long"
    ) * side + (F.col(tile_y) if isinstance(tile_y, str) else tile_y).cast("long")


def dense_cells(points: DataFrame, id_col: str, lon_col: str, lat_col: str,
                zoom: int, min_pts: int) -> DataFrame:
    """→ (tile_x, tile_y, n, k) for every cell with ≥ min_pts points."""
    cells = assign_tiles(points, id_col, lon_col, lat_col, zoom)
    return (
        cells.groupBy("tile_x", "tile_y")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= min_pts)
        .withColumn("k", cell_key("tile_x", "tile_y", zoom))
    )


def _dense_edges(dense: DataFrame, zoom: int) -> DataFrame:
    """Undirected adjacency (id_a < id_b) between 8-connected dense
    cells: scatter each cell to its clamped neighbour keys, equi-join
    back against the dense key set."""
    side = 1 << zoom
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    nbrs = dense.select(
        "k",
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("tile_x") + dx).alias("nx"),
                    (F.col("tile_y") + dy).alias("ny"),
                )
                for dx, dy in offs
            ])
        ).alias("o"),
    ).select(
        "k",
        F.col("o.nx").alias("nx"),
        F.col("o.ny").alias("ny"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < side)
        & (F.col("ny") >= 0) & (F.col("ny") < side)
    ).withColumn("nk", cell_key("nx", "ny", zoom))
    hit = nbrs.join(
        dense.select(F.col("k").alias("nk")), "nk"
    ).select("k", "nk")
    return (
        hit.filter(F.col("k") < F.col("nk"))
        .select(F.col("k").alias("id_a"), F.col("nk").alias("id_b"))
        .distinct()
    )


def grid_clusters(points: DataFrame, id_col: str, lon_col: str, lat_col: str,
                  zoom: int, min_pts: int, max_iters: int = 20) -> DataFrame:
    """→ (tile_x, tile_y, n, cluster) for every dense cell; ``cluster``
    is the MIN cell key of the 8-connected dense component (stable
    across runs/partitionings — a pure function of the point set)."""
    dense = dense_cells(points, id_col, lon_col, lat_col, zoom, min_pts)
    # the dense relation is consumed 3× (edges ×2 sides, final join);
    # it is tiny (≤ grid cells) but sits on top of the full point scan
    dense = dense.localCheckpoint(eager=False)
    comp = connected_components(_dense_edges(dense, zoom), max_iters)
    return (
        dense.join(comp, dense["k"] == comp["v"], "left")
        .select(
            "tile_x", "tile_y", "n",
            F.coalesce("component", "k").alias("cluster"),
        )
    )


def cluster_points(points: DataFrame, id_col: str, lon_col: str,
                   lat_col: str, zoom: int, min_pts: int,
                   max_iters: int = 20) -> DataFrame:
    """Per-point cluster membership: (id, tile_x, tile_y, cluster) with
    cluster NULL for noise points (cell below min_pts) — the DBSCAN
    point labelling, one broadcastable dense-cell join away from
    ``grid_clusters``."""
    cells = assign_tiles(points, id_col, lon_col, lat_col, zoom)
    labelled = grid_clusters(points, id_col, lon_col, lat_col,
                             zoom, min_pts, max_iters)
    # broadcast-size guard (r6, VERDICT r5 #6): dense-cell cardinality is
    # data-dependent (urban planet at fine zoom can reach 10⁷-10⁸ rows);
    # materialize the label relation once, broadcast only when it is
    # provably small, otherwise fall back to a plain shuffled join on
    # the tile key.
    labels, n = checkpoint_count(labelled.select("tile_x", "tile_y", "cluster"))
    if n <= CLUSTER_BROADCAST_MAX_CELLS:
        labels = F.broadcast(labels)
    return cells.join(
        labels, ["tile_x", "tile_y"], "left",
    ).select(F.col("element_id").alias(id_col), "tile_x", "tile_y", "cluster")
