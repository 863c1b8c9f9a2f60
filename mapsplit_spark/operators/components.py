"""Connected components over near-dup pair edges → canonical dup groups.

The dedup operators (``minhash_near_dups``, ``hamming_near_dups``,
``emb_near_dup``) emit verified PAIRS; an actual training-data pipeline
must resolve those into GROUPS and keep one representative per group.
Transitivity matters: with the hot-bucket star cap the pair relation is
deliberately sparse (hub edges), so "keep the min of each pair" is
wrong — only the connected component gives the dedup semantics.

Algorithm: distributed min-label propagation with POINTER JUMPING —
each round first takes the min label over graph neighbours, then
contracts label chains by looking up the label of the label
(path doubling), so convergence needs O(log diameter) rounds rather
than O(diameter).  Dedup graphs are star/clique shaped (diameter ≤ ~4,
and the LSH/pHash bucket cap makes >cap clusters explicit hub stars),
so this settles in 2-3 rounds; the loud iteration cap mirrors
``relation_tiles_fixed_point`` — on non-convergence the job RAISES
rather than silently emitting split components.

Scale shape: per round, one shuffle join edges⋈labels + one aggregate
+ one labels⋈labels self-join — all equi-joins on the id key, no
driver-side state; lineage truncated per round via localCheckpoint,
whose job also counts the changed labels (``fixpoint``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import checkpoint_count, fixpoint

# driver fast path cap: pair relations at or below this many edges are
# collected and resolved with a single union-find instead of the
# distributed fixpoint (each distributed round costs 2 checkpoint jobs
# — seconds of pure scheduling latency on small
# graphs).  2M edges ≈ 32 MB via Arrow — the same bounded-collect class
# as the IVF probe-cell ids; larger graphs take the distributed path
# unchanged, so the operator stays 100 TB-safe.
CC_DRIVER_MAX_EDGES = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_MAX", "2000000"))


def _driver_components(spark, pdf, id_fields) -> DataFrame:
    """Union-find over a collected pair table; component = min reachable
    vertex id (identical semantics to the distributed min-label
    fixpoint, differentially tested in tests/test_components.py)."""
    import pandas as pd

    codes, uniq = pd.factorize(pd.concat([pdf["id_a"], pdf["id_b"]]))
    n_pairs = len(pdf)
    parent = list(range(len(uniq)))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(codes[:n_pairs], codes[n_pairs:]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    ids = pd.Series(uniq)
    comp = ids.groupby([find(i) for i in range(len(uniq))]).transform("min")
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("v", id_fields, False),
        T.StructField("component", id_fields, False),
    ])
    return spark.createDataFrame(list(zip(ids.tolist(), comp.tolist())), schema)


def connected_components(pairs: DataFrame, max_iters: int = 20,
                         driver_max_edges: int | None = None) -> DataFrame:
    """→ (v, component) for every vertex appearing in ``pairs``
    (columns id_a/id_b), component = MIN vertex id reachable.

    Size-adaptive (r6): one job materializes and counts the pairs; at or
    below ``driver_max_edges`` (default ``CC_DRIVER_MAX_EDGES``) the
    graph resolves in one driver union-find — dedup-pair graphs after
    banding are tiny relative to the corpus, and the distributed
    fixpoint's per-round job latency dominated three gates.  Above the
    cap the distributed min-label/pointer-jumping fixpoint runs
    unchanged.

    Raises RuntimeError if not converged within ``max_iters`` rounds
    (pointer jumping makes that ~2^max_iters of effective diameter —
    unreachable for any real dedup graph; a silent cap could split
    groups, so like the relation fixed point the failure is loud)."""
    cap = CC_DRIVER_MAX_EDGES if driver_max_edges is None else driver_max_edges
    if cap > 0:
        pairs, n = checkpoint_count(pairs.select("id_a", "id_b"))
        if n <= cap:
            id_type = pairs.schema["id_a"].dataType
            return _driver_components(
                pairs.sparkSession, pairs.toPandas(), id_type)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy("src").agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("v"),
            F.least("src", "nmin").alias("lab"),
        )
        .localCheckpoint(eager=True)
    )

    def step(labels):
        # min over neighbours' current labels
        nb = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src").agg(F.min("lab").alias("nlab"))
        )
        # a left join from labels (v unique) keeps one row per vertex,
        # so counting lab != old below counts the vertices that changed
        stepped = (
            labels.join(nb, labels["v"] == nb["src"], "left")
            .select(labels["v"], labels["lab"].alias("old"),
                    F.least("lab", "nlab").alias("lab"))
            # materialize before the x/y self-join below: an uncheckpointed
            # plan aliased as both sides would recompute the edges⋈labels
            # join + aggregate twice per round (2× every iteration)
            .localCheckpoint(eager=True)
        )
        # pointer jumping: follow the label's own label (path doubling)
        x, y = stepped.alias("x"), stepped.alias("y")
        return checkpoint_count(
            x.join(y, F.col("x.lab") == F.col("y.v"), "left")
            .select(
                F.col("x.v").alias("v"),
                F.col("x.old").alias("old"),
                F.least(F.col("x.lab"), F.col("y.lab")).alias("lab"),
            ),
            F.col("lab") != F.col("old"),
        )

    labels = fixpoint(step, labels, max_iters, "connected_components")
    return labels.select("v", F.col("lab").alias("component"))


def dedup_keep(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
               max_iters: int = 20) -> DataFrame:
    """Drop every document that is NOT its dup group's representative
    (component min); documents in no pair survive untouched.  The
    standard corpus-dedup reduction: |kept| = |docs| − Σ (|group|−1)."""
    comp = connected_components(pairs, max_iters)
    losers = comp.filter(F.col("v") != F.col("component")).select(
        F.col("v").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
