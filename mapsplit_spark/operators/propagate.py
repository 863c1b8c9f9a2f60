"""J1-J6 — tile-set propagation along reference edges.

The reference resolves way→node and relation→member references by
hash-map lookups against the in-memory OsmMaps (MapSplit.java:452-511,
:534-662, :772-831).  Spark-first re-expression: membership is a
DataFrame of (group_id, member_id) edges and every lookup becomes a
join against the exploded (element_id, tile_x, tile_y) assignment
relation; set-union is ``distinct`` on normalized rows (no packed
bitmaps — Tungsten columnar rows replace AbstractOsmMap's 64-bit codec).

Scale notes: node_tiles is the big side (≈ input cardinality × small
fan-out); membership edges shuffle-join on member_id.  Both sides are
key-partitioned by the join key only — no driver collection; the
fixed-point loops (relations, newer) iterate a bounded number of small
joins on the relation subset only, one counted checkpoint per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import checkpoint_count, fixpoint


def way_tiles(members: DataFrame, node_tiles: DataFrame,
              group_col: str = "way_id", member_col: str = "member_id",
              drop_incomplete: bool = True) -> DataFrame:
    """J1 — way tile set = union of member node tile sets, dropping the
    whole way if ANY member is missing (MapSplit.java:462-502).
    → distinct (group_col, tile_x, tile_y).

    Single-pass plan: one left join + one groupBy(way) carrying both the
    missing-member flag and the tile set (collect_set skips the nulls
    left by missing members).  3 exchanges total vs 6 for the naive
    anti-join-then-rejoin formulation — at 100 TB the node_tiles subtree
    is the expensive side and is scanned/shuffled exactly once.
    """
    nt = node_tiles.select("element_id", "tile_x", "tile_y")
    j = members.join(nt, members[member_col] == nt["element_id"], "left")
    agg = j.groupBy(group_col).agg(
        F.max(F.when(F.col("tile_x").isNull(), 1).otherwise(0)).alias("n_missing"),
        F.collect_set(
            F.when(F.col("tile_x").isNotNull(), F.struct("tile_x", "tile_y"))
        ).alias("tiles"),
    )
    agg = agg.filter("n_missing = 0") if drop_incomplete else agg.filter("size(tiles) > 0")
    return agg.select(group_col, F.explode("tiles").alias("t")).select(
        group_col, F.col("t.tile_x").alias("tile_x"), F.col("t.tile_y").alias("tile_y")
    )


def backfill_member_tiles(members: DataFrame, group_tiles: DataFrame,
                          node_tiles: DataFrame, group_col: str = "way_id",
                          member_col: str = "member_id") -> DataFrame:
    """J2 — every member inherits its group's full tile set
    (MapSplit.java:506-510); result unioned with the nodes' own tiles.
    → distinct (element_id, tile_x, tile_y) superset of node_tiles."""
    inherited = (
        members.join(group_tiles, group_col)
        .select(F.col(member_col).alias("element_id"), "tile_x", "tile_y")
    )
    return node_tiles.select("element_id", "tile_x", "tile_y").union(inherited).distinct()


def complete_relation_propagation(rel_members: DataFrame, rel_tiles: DataFrame,
                                  way_members: DataFrame,
                                  node_tiles: DataFrame) -> DataFrame:
    """J5/J6 — complete-relations mode (-c / -C with type=multipolygon):
    every relation member inherits the relation's full tile set
    (MapSplit.java:641-661), and nodes of relation-member WAYS inherit
    those ways' augmented tile sets via the second pass
    (addExtraWayToMap, MapSplit.java:519-527, driver :793-831).

    rel_members: (relation_id, member_id); rel_tiles: (element_id ≡
    relation_id, tile_x, tile_y); way_members: (way_id, member_id ≡ node
    id); node_tiles: the exploded base assignment.  → augmented distinct
    (element_id, tile_x, tile_y).
    """
    rt = rel_tiles.select(
        F.col("element_id").alias("relation_id"), "tile_x", "tile_y"
    )
    inherit = rel_members.join(rt, "relation_id").select(
        F.col("member_id").alias("element_id"), "tile_x", "tile_y"
    )
    # pass 2: member ways push their inherited tiles down to their nodes
    way_aug = (
        inherit.withColumnRenamed("element_id", "way_id")
        .join(way_members, "way_id")
        .select(F.col("member_id").alias("element_id"), "tile_x", "tile_y")
    )
    return (
        node_tiles.select("element_id", "tile_x", "tile_y")
        .union(inherit).union(way_aug).distinct()
    )


def _semi_naive_step(rel_edges: DataFrame, delta: DataFrame,
                     resolved: DataFrame) -> DataFrame:
    """One semi-naive iteration: derive the next frontier from the DELTA
    only (classic datalog TC optimization — joining the accumulated
    relation instead would grow the join input every iteration), then
    anti-join away rows already resolved.  ``rel_edges``: (dst, src)."""
    derived = (
        rel_edges.join(delta, rel_edges["src"] == delta["element_id"])
        .select(F.col("dst").alias("element_id"), "tile_x", "tile_y")
        .distinct()
    )
    return derived.join(resolved, ["element_id", "tile_x", "tile_y"], "left_anti")


def _closure(new_rows, acc: DataFrame, max_iters: int, what: str) -> DataFrame:
    """Semi-naive closure of ``acc`` on ``fixpoint``: each round
    checkpoints and counts ``new_rows(acc, delta)`` (the rows derived
    from the last delta, minus those already in ``acc``) and folds a
    nonempty delta into the checkpointed ``acc``."""
    def step(state):
        acc, delta = state
        delta, n = checkpoint_count(new_rows(acc, delta))
        if n:
            acc = acc.union(delta).localCheckpoint(eager=True)
        return (acc, delta), n

    return fixpoint(step, (acc, acc), max_iters, what)[0]


def relation_tiles_fixed_point(rel_members: DataFrame, base_tiles: DataFrame,
                               group_col: str = "relation_id",
                               member_col: str = "member_id",
                               max_iters: int = 25) -> DataFrame:
    """J3/J4 — relations may reference relations (forward/cyclic refs);
    the reference retries unresolved ones until no progress
    (postProcessRelations, MapSplit.java:772-790).

    ``rel_members``: (relation_id, member_id) where member_id may be a
    relation_id itself.  ``base_tiles``: (element_id, tile_x, tile_y)
    for non-relation members already resolved.  Missing members are
    skipped (left-join semantics, MapSplit.java:552-581); a relation
    whose tile set stays empty is dropped (:625-628).

    Driver-side loop, bounded by nesting depth — each iteration is one
    shuffle join on the (small) relation edge set, evaluated semi-naively
    (delta only, see ``_semi_naive_step``).  Converges monotonically
    (tile sets only grow) like the reference's ``while postSize <
    preSize`` loop.  The reference iterates uncapped; ``max_iters`` is a
    runaway guard for genuinely cyclic-and-growing inputs, and hitting
    it with work remaining raises instead of silently returning an
    incomplete tile set.
    """
    # r6 A/B note: materializing the edge relation once (repartition on
    # src + eager localCheckpoint, so iterations skip the per-round
    # re-scan/re-shuffle) measured SLOWER at sf0.1 for both gate callers
    # (+0.3-0.5 s — the checkpoint round-trip exceeds the cheap re-scan
    # of small fixture edges); callers with a genuinely expensive edge
    # subtree should checkpoint rel_members themselves before calling.
    rel_edges = rel_members.select(
        F.col(group_col).alias("dst"), F.col(member_col).alias("src")
    )
    resolved = (
        rel_edges.join(base_tiles, rel_edges["src"] == base_tiles["element_id"])
        .select(F.col("dst").alias("element_id"), "tile_x", "tile_y")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r6 note: a checkpoint-deltas-only variant (anti-join against the
    # lazy union of materialized parts, avoiding the per-round
    # re-checkpoint of the accumulated relation) was A/B'd same-session
    # and measured SLOWER (6.1 vs 5.5 s warm, 11.3 vs 6.5 s cold at
    # sf0.1) — the accumulated checkpoint is what keeps the per-round
    # anti-join and every downstream consumer reading one compact
    # materialized relation.  Kept the r5 shape.
    return _closure(lambda acc, delta: _semi_naive_step(rel_edges, delta, acc),
                    resolved, max_iters, "relation fixed point")


def propagate_newer(edges: DataFrame, newer_ids: DataFrame,
                    max_iters: int = 25) -> DataFrame:
    """Incremental S5 support: close the 'newer than the appointment
    date' set over group membership — a session/collection is modified
    iff ANY member (transitively) is newer, so its WHOLE tile set
    (including hole-filled / J5-J6-inherited tiles that contain no newer
    member row themselves) gets rewritten, matching the reference's
    entity-level modified marking (MapSplit.java:435-437).

    ``edges``: (group_id, member_id) across all kinds; ``newer_ids``:
    single-column ``element_id``.  → distinct element_id superset.
    """
    newer = newer_ids.select("element_id").distinct().localCheckpoint(eager=True)

    def new_groups(newer, delta):
        return (
            edges.join(delta, edges["member_id"] == delta["element_id"])
            .select(F.col("group_id").alias("element_id")).distinct()
            .join(newer, "element_id", "left_anti")
        )

    return _closure(new_groups, newer, max_iters, "newer-propagation")
