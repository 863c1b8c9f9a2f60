"""Output checks for the benchmark workloads.

Each check reads what a CLI run wrote and returns a list of failure
messages (empty when the output is right).  The checks use DuckDB and
plain Python, never the Spark session under test:

* ``digest`` — an order-independent digest of every written output;
  every iteration of a run must reproduce the first one's.
* the per-workload oracles compare against the repo's independent
  references: the ``sqlgen`` assign/expand SQL run in DuckDB, and
  ``mapsplit_spark.oracle`` for session tiles, hole fill, clip and zones
  (session tiles on a small seeded slice).
"""

from __future__ import annotations

import glob
import hashlib
import os
import sqlite3
from collections import defaultdict

import duckdb
import numpy as np

from mapsplit_spark import oracle, sqlgen
from mapsplit_spark import tilemath as tm

from .datagen import ZOOM

BORDER = 0.1
PYRAMID_MIN = 8  # the workloads' --pyramid
SLICE = 40  # sessions checked against the oracle: half rings, half plain
RING_MIN_MEMBERS = 12  # plain sessions have 3-12 members, rings 36-48


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _parquet(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def digest(out_dir: str) -> dict[str, str]:
    """{output name: row count + sum of row hashes} for every output."""
    con = _con()
    out = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(path)
        if os.path.isdir(path):
            n, h = con.execute(
                f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {_parquet(path)} t"
            ).fetchone()
            out[name] = f"{n}:{int(h or 0) % (1 << 64):016x}"
        elif name.endswith(".mbtiles"):
            out[name] = _sqlite_digest(path)
        else:
            with open(path, "rb") as fh:
                out[name] = hashlib.sha256(fh.read()).hexdigest()[:16]
    con.close()
    return out


def _sqlite_digest(path: str) -> str:
    conn = sqlite3.connect(path)
    try:
        total, n = 0, 0
        for table in ("tiles", "metadata"):
            for row in conn.execute(f"SELECT * FROM {table}"):
                h = hashlib.sha256(repr(row).encode()).digest()
                total = (total + int.from_bytes(h[:8], "little")) % (1 << 64)
                n += 1
    finally:
        conn.close()
    return f"{n}:{total:016x}"


def bytes_written(out_dir: str) -> int:
    total = 0
    for root, _, files in os.walk(out_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- per-workload oracles ----------------------------------------------

def _assign_sql(images: str, where: str = "") -> str:
    src = f"(SELECT image_id, lon, lat FROM read_parquet('{images}') {where})"
    return sqlgen.expand_union_sql(
        sqlgen.assign_cte_sql(f"{src} s", "image_id", "lon", "lat", ZOOM, BORDER))


def _written_tiles(con, out_dir: str) -> dict[tuple, int]:
    """{(zoom, x, y): n} of the written manifests."""
    return {(int(z), int(x), int(y)): int(n) for z, x, y, n in con.execute(
        f"SELECT zoom, tile_x, tile_y, n FROM {_parquet(os.path.join(out_dir, 'manifests'))}"
    ).fetchall()}


def _out_tile(written, t):
    """The written output tile holding base tile ``t`` (``--optimize``
    merges base tiles into coarser ones), or None when not written."""
    for z in range(ZOOM, -1, -1):
        key = (z, t[0] >> (ZOOM - z), t[1] >> (ZOOM - z))
        if key in written:
            return key
    return None


def _want(con, ids) -> None:
    """Load ``ids`` into the temp table ``want(e)`` for a join."""
    con.execute("CREATE OR REPLACE TEMP TABLE want(e VARCHAR)")
    con.executemany("INSERT INTO want VALUES (?)", [(i,) for i in ids])


def _manifest_tiles_of(con, out_dir: str, ids: list[str]) -> dict[str, set]:
    _want(con, ids)
    rows = con.execute(
        f"SELECT e, zoom, tile_x, tile_y FROM (SELECT zoom, tile_x, tile_y, "
        f"unnest(element_ids) AS e FROM {_parquet(os.path.join(out_dir, 'manifests'))}) "
        f"JOIN want USING (e)").fetchall()
    got: dict[str, set] = defaultdict(set)
    for e, z, x, y in rows:
        got[e].add((int(z), int(x), int(y)))
    return got


def _rings(con, poly: str):
    outers, inners = [], []
    for coords, is_hole in con.execute(
            f"SELECT coords, is_hole FROM read_parquet('{poly}')").fetchall():
        ring = np.array([(c["lon"], c["lat"]) for c in coords], dtype=np.float64)
        (inners if is_hole else outers).append(ring)
    return outers, inners


def _session_slice(con, inputs: dict, seed: int):
    """A seeded slice of sessions that no collection contains, half of
    them ring sessions; → [(session_id, member ids)]."""
    ses = con.execute(
        f"SELECT session_id, kind, member_ids FROM read_parquet('{inputs['sessions']}')"
    ).fetchall()
    in_collection = {m for _, kind, ms in ses if kind == "collection" for m in ms}
    cands = [(sid, ms) for sid, kind, ms in ses
             if kind == "session" and sid not in in_collection]
    rng = np.random.default_rng(seed)
    sl = []
    for group in ([c for c in cands if len(c[1]) > RING_MIN_MEMBERS],
                  [c for c in cands if len(c[1]) <= RING_MIN_MEMBERS]):
        pick = rng.choice(len(group), size=min(SLICE // 2, len(group)), replace=False)
        sl += [group[i] for i in sorted(pick)]
    return sl


def _points(con, images: str, ids) -> tuple[list, list, list]:
    _want(con, ids)
    pts = con.execute(f"SELECT image_id, lon, lat FROM read_parquet('{images}') "
                      f"JOIN want ON image_id = e").fetchall()
    return [p[0] for p in pts], [p[1] for p in pts], [p[2] for p in pts]


def check_sessions(con, inputs, out_dir, written, outers, inners, seed) -> list[str]:
    """Session tiles on the slice: oracle way tiles, plus oracle holes
    when the session spans at least 8 tiles, kept by the oracle's corner
    test, mapped onto the written (merged) tiles, must equal the tiles
    whose manifests list the session."""
    sl = _session_slice(con, inputs, seed)
    pairs = oracle.assignment_pairs(*_points(con, inputs["images"],
                                             sorted({m for _, ms in sl for m in ms})),
                                    ZOOM, BORDER)
    ses_tiles, _ = oracle.session_tiles(pairs, sl)
    got = _manifest_tiles_of(con, out_dir, list(ses_tiles))
    fails, holes_seen = [], 0
    for sid, tiles in ses_tiles.items():
        full = set(tiles)
        if len(full) >= 8:
            holes = oracle.hole_fill(full)
            holes_seen += len(holes)
            full |= holes
        expect = {_out_tile(written, t) for t in _kept(full, outers, inners)} - {None}
        if got.get(sid, set()) != expect:
            fails.append(f"session {sid}: {len(got.get(sid, ()))} tiles written, "
                         f"oracle {len(expect)}")
    if holes_seen == 0:
        fails.append("session slice exercised no hole fill")
    return fails[:5]


def _kept(tiles, outers, inners) -> set:
    """The oracle's corner-test clip (``oracle.tile_in_polygon``): a tile
    is kept iff a corner lies in an outer ring and no corner in a hole
    ring.  A corner outside a ring's bounding box is outside the ring, so
    the oracle's ray casting runs only on corners inside the box."""
    tiles = sorted(set(tiles))
    if not tiles:
        return set()
    xy = np.array(tiles, dtype=np.float64)
    corners = [(u, v) for u in (0, 1) for v in (0, 1)]
    cx = np.stack([tm.tile2lon(xy[:, 0] + u, ZOOM) for u, _ in corners], axis=1)
    cy = np.stack([tm.tile2lat(xy[:, 1] + v, ZOOM) for _, v in corners], axis=1)

    def hit(rings) -> np.ndarray:
        out = np.zeros(len(tiles), dtype=bool)
        for ring in rings:
            in_box = ((cx >= ring[:, 0].min()) & (cx <= ring[:, 0].max())
                      & (cy >= ring[:, 1].min()) & (cy <= ring[:, 1].max()))
            for i, k in zip(*np.nonzero(in_box)):
                if not out[i] and oracle.point_in_ring(float(cx[i, k]), float(cy[i, k]), ring):
                    out[i] = True
        return out

    return {tiles[i] for i in np.flatnonzero(hit(outers) & ~hit(inners))}


def check_incremental(con, inputs, written, kept_images, outers, inners) -> list[str]:
    """Every kept tile of a directly newer image is rewritten, and fewer
    than half of the kept image tiles are rewritten."""
    where = f"WHERE ts_ms > {inputs['appointment_ms']}"
    newer = _kept([tuple(t) for t in con.execute(
        f"SELECT DISTINCT tile_x, tile_y FROM ({_assign_sql(inputs['images'], where)})"
    ).fetchall()], outers, inners)
    missing = [t for t in newer if _out_tile(written, t) is None]
    fails = [f"{len(missing)} kept tiles of newer images not rewritten"] if missing else []
    if not 0 < len(written) < len(kept_images) / 2:
        fails.append(f"incremental rewrote {len(written)} tiles of "
                     f"{len(kept_images)} kept image tiles")
    return fails


def check_pyramid(con, inputs, out_dir, image_pairs, kept_images, outers,
                  inners) -> list[str]:
    """The pyramid rolls up every kept pair, before the incremental
    filter.  Its base level must hold exactly the kept tiles of the
    images (sqlgen assign/expand in DuckDB) and of the oracle's session
    holes, each counting at least the images assigned to it directly;
    every coarser level must hold exactly the parents of the base tiles."""
    sessions = [(sid, ms) for sid, kind, ms in con.execute(
        f"SELECT session_id, kind, member_ids FROM read_parquet('{inputs['sessions']}')"
    ).fetchall() if kind == "session"]
    ses_tiles, _ = oracle.session_tiles(image_pairs, sessions)
    holes = set()
    for tiles in ses_tiles.values():
        if len(tiles) >= 8:
            holes |= oracle.hole_fill(set(tiles))
    expect = kept_images | _kept(holes, outers, inners)
    direct: dict[tuple, int] = defaultdict(int)
    for _, x, y in image_pairs:
        direct[(x, y)] += 1
    levels: dict[int, dict] = defaultdict(dict)
    for z, x, y, n in con.execute(
            f"SELECT zoom, tile_x, tile_y, n FROM {_parquet(os.path.join(out_dir, 'pyramid'))}"
    ).fetchall():
        levels[int(z)][(int(x), int(y))] = int(n)
    base = levels[ZOOM]
    fails = []
    if set(base) != expect:
        fails.append(f"pyramid z{ZOOM}: {len(base)} tiles, oracle {len(expect)}")
    short = sum(1 for t, n in base.items() if n < direct.get(t, 0))
    if short:
        fails.append(f"pyramid z{ZOOM}: {short} tiles count fewer than their images")
    for z in range(PYRAMID_MIN, ZOOM):
        d = ZOOM - z
        if set(levels[z]) != {(x >> d, y >> d) for x, y in base}:
            fails.append(f"pyramid z{z} tiles are not the parents of z{ZOOM}")
    return fails


def check_mbtiles(con, out_dir) -> list[str]:
    """The MBTiles file holds one row per manifest tile."""
    n_tiles = len(_written_tiles(con, out_dir))
    conn = sqlite3.connect(os.path.join(out_dir, "tiles.mbtiles"))
    try:
        n_mb = conn.execute("SELECT count(*) FROM tiles").fetchone()[0]
    finally:
        conn.close()
    if n_mb != n_tiles or n_tiles == 0:
        return [f"mbtiles rows {n_mb} != manifest rows {n_tiles}"]
    return []


def check_zones(con, inputs, out_dir, outers, inners) -> list[str]:
    """Per-zone point counts against the oracle's ray casting: a point
    counts for each outer ring holding it, unless a hole ring holds it."""
    lon, lat = (np.array(c) for c in zip(*con.execute(
        f"SELECT lon, lat FROM read_parquet('{inputs['images']}')").fetchall()))

    def inside(ring) -> np.ndarray:
        cand = np.flatnonzero((lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
                              & (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max()))
        return np.array([i for i in cand if oracle.point_in_ring(lon[i], lat[i], ring)],
                        dtype=np.int64)

    in_hole = np.zeros(len(lon), dtype=bool)
    for ring in inners:
        in_hole[inside(ring)] = True
    expect = {}
    for zone, ring in enumerate(outers):
        n = int((~in_hole[inside(ring)]).sum())
        if n:
            expect[zone] = n
    got = dict(con.execute(
        f"SELECT zone, n_points FROM {_parquet(os.path.join(out_dir, 'zones'))}").fetchall())
    if got != expect:
        return [f"zone counts differ from the oracle on "
                f"{sum(1 for z in set(got) | set(expect) if got.get(z) != expect.get(z))} zones"]
    if not expect:
        return ["no point fell in any zone"]
    return []


def check_split_points(inputs: dict, out_dir: str) -> list[str]:
    """The DuckDB run of the sqlgen assign/expand SQL must give exactly
    Σn of the pyramid's base zoom level (one count per distinct pair),
    and the MBTiles file must hold one row per manifest tile."""
    con = _con()
    try:
        expect = con.execute(
            f"SELECT count(*) FROM ({_assign_sql(inputs['images'])})").fetchone()[0]
        got = con.execute(
            f"SELECT sum(n) FROM {_parquet(os.path.join(out_dir, 'pyramid'))} "
            f"WHERE zoom = {ZOOM}").fetchone()[0]
        fails = [] if got == expect else [f"pyramid z{ZOOM} Σn={got} != oracle pairs {expect}"]
        return fails + check_mbtiles(con, out_dir)
    finally:
        con.close()


def check_split_sessions(inputs: dict, out_dir: str, seed: int) -> list[str]:
    con = _con()
    try:
        written = _written_tiles(con, out_dir)
        outers, inners = _rings(con, inputs["poly"])
        image_pairs = {(e, int(x), int(y)) for e, x, y in con.execute(
            _assign_sql(inputs["images"])).fetchall()}
        kept_images = _kept({(x, y) for _, x, y in image_pairs}, outers, inners)
        return (check_sessions(con, inputs, out_dir, written, outers, inners, seed)
                + check_incremental(con, inputs, written, kept_images, outers, inners)
                + check_pyramid(con, inputs, out_dir, image_pairs, kept_images,
                                outers, inners)
                + check_mbtiles(con, out_dir)
                + check_zones(con, inputs, out_dir, outers, inners))
    finally:
        con.close()


def check_dedup(inputs: dict, out_dir: str, seed: int, cap: int) -> list[str]:
    """Pairs among a seeded slice equal a brute-force Hamming scan; the
    components equal a union-find over the written pairs; the pair count
    exceeds the driver cap, so the distributed fixpoint ran."""
    con = _con()
    ids, hashes = zip(*con.execute(
        f"SELECT image_id, phash FROM read_parquet('{inputs['images']}')").fetchall())
    pairs = con.execute(
        f"SELECT id_a, id_b, hamming FROM {_parquet(os.path.join(out_dir, 'pairs'))}"
    ).fetchall()
    comps = dict(con.execute(
        f"SELECT v, component FROM {_parquet(os.path.join(out_dir, 'components'))}"
    ).fetchall())
    con.close()
    fails = []
    if len(pairs) <= cap:
        fails.append(f"{len(pairs)} pairs ≤ driver cap {cap}: distributed path skipped")
    # brute force over a slice of chain-aligned rows (chains are contiguous)
    ids_a = np.array(ids, dtype=np.int64)
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    start = int(np.random.default_rng(seed).integers(0, max(1, len(ids_a) - 2000)))
    sl = slice(start, min(len(ids_a), start + 2000))
    x = h[sl][:, None] ^ h[sl][None, :]
    dist = np.unpackbits(x.view(np.uint8).reshape(x.shape + (8,)), axis=-1).sum(-1)
    ia, ib = np.nonzero(np.triu(dist <= 3, k=1))
    sid = ids_a[sl]
    expect = {(int(min(sid[a], sid[b])), int(max(sid[a], sid[b]))) for a, b in zip(ia, ib)}
    lo, hi = int(sid.min()), int(sid.max())
    got = {(a, b) for a, b, _ in pairs if lo <= a <= hi and lo <= b <= hi}
    if got != expect:
        fails.append(f"slice pairs {len(got)} != brute force {len(expect)}")
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, int] = {}
    for v in list(parent):
        root = find(v)
        members[root] = min(members.get(root, root), v)
    expect_comp = {v: members[find(v)] for v in parent}
    if comps != expect_comp:
        fails.append(f"components differ from union-find on {sum(1 for v in expect_comp if comps.get(v) != expect_comp[v])} vertices")
    return fails


def oracle_check(workload: str, inputs: dict, out_dir: str, seed: int,
                 cc_cap: int) -> list[str]:
    if workload == "split_points":
        return check_split_points(inputs, out_dir)
    if workload == "split_sessions":
        return check_split_sessions(inputs, out_dir, seed)
    return check_dedup(inputs, out_dir, seed, cc_cap)
