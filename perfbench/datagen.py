"""Seeded inputs for the benchmark workloads.

Every table is a pure function of ``(seed, size)``.  Point coordinates
come from ``mapsplit_spark.geo.geo`` on a seed-shifted row index, so the
hot-cluster skew matches FIXTURES.md §1 while each seed draws a
different sample of it.  Id namespaces follow the sessions-table
contract: ``img…`` points, ``ses…`` sessions, ``col…`` collections.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mapsplit_spark import geo
from mapsplit_spark import tilemath as tm

ZOOM = 13
TS0_MS = 1_704_067_200_000  # 2024-01-01
TS_SPAN_MS = 5_184_000_000  # 60 days, as mapsplit_spark.datagen
NEWER_SHARE = 0.005  # share of rows newer than the appointment date
DEPTH = 3  # collection nesting: the relation fixed point runs DEPTH + 1 rounds
CHAIN_LEN = 24  # planted near-duplicate chain length
CLUSTERED_SHARE = 0.6  # share of hashes in chains
# Sizes.  Warm CLI calls timed on a 4-core machine at 2.8k, 9.4k and 19k
# image rows and at 4k, 20k and 60k hashes fit a fixed ~16 s
# (split_sessions) or ~6.6 s (dedup_images) of per-job overhead plus
# ~0.56 ms per image row or ~0.12 ms per hash; a cold first call costs
# 2-3 times a warm one.  At these sizes the row-dependent share of a
# timed iteration is about a fifth (split_sessions, ~8k rows) and 7%
# (dedup_images, 4k hashes).  Larger inputs would push a run, a cold
# set-up plus at least one timed iteration, past a minute and a half.
SIZES = {
    "split_points": {"images": 6_000},
    "split_sessions": {"images": 5_000, "sessions": 300, "rings": 16,
                       "chains": 12, "polys": 30},
    "dedup_images": {"hashes": 4_000},
}


def _shift(seed: int) -> np.uint64:
    return np.uint64(seed) << np.uint64(32)


def _u01(seed: int, idx, salt: int) -> np.ndarray:
    h = geo.splitmix64(np.asarray(idx, dtype=np.uint64) ^ _shift(seed)
                       ^ geo.splitmix64(np.uint64(salt)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _ids(prefix: str, start: int, n: int, width: int) -> list[str]:
    return [f"{prefix}{i:0{width}d}" for i in range(start, start + n)]


def _image_table(ids, lon, lat, ts) -> pa.Table:
    return pa.table({
        "image_id": pa.array(ids),
        "lon": pa.array(np.asarray(lon, dtype=np.float64)),
        "lat": pa.array(np.asarray(lat, dtype=np.float64)),
        "ts_ms": pa.array(np.asarray(ts, dtype=np.int64)),
    })


def geo_images(seed: int, n: int) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """(ids, lon, lat, ts_ms) for ``n`` geo-skewed points."""
    idx = np.arange(n, dtype=np.uint64) + _shift(seed)
    lat, lon = geo.geo(idx)
    return _ids("img", 0, n, 12), lon, lat, _timestamps(seed, 0, n)


def _timestamps(seed: int, first_idx: int, n: int) -> np.ndarray:
    """Event times (epoch ms) spread over ``TS_SPAN_MS`` from 2024-01-01."""
    u = _u01(seed, np.arange(first_idx, first_idx + n), 23)
    return np.int64(TS0_MS) + (u * TS_SPAN_MS).astype(np.int64)


def session_points(seed: int, n_plain: int, n_rings: int, first_idx: int,
                   centers: np.ndarray):
    """Member points of the sessions, appended to the images table.

    A plain session is a photo trace: 3-12 points on a random walk of
    sub-tile steps at ``ZOOM`` from a geo-skewed anchor.  A ring session
    traces a closed circle (3-4 tiles radius) near a hot-cluster centre,
    with points under one tile apart, so its tile set is a closed ring
    and hole fill must add the interior.
    Returns (ids, lon, lat, plain member lists, ring member lists)."""
    xs, ys, plain, rings = [], [], [], []
    nxt = first_idx

    def take(k: int) -> list[str]:
        nonlocal nxt
        nxt += k
        return _ids("img", nxt - k, k, 12)

    a_lat, a_lon = geo.geo(np.arange(n_plain, dtype=np.uint64) + _shift(seed)
                           + np.uint64(1 << 31))
    for s in range(n_plain):
        k = 3 + int(_u01(seed, s, 31)[()] * 10)
        step = (_u01(seed, s * 32 + np.arange(2 * k), 37).reshape(2, k) - 0.5) * 1.2
        step[:, 0] = 0.0
        xs.append(float(tm.lon2tx(a_lon[s], ZOOM)) + 0.5 + np.cumsum(step[0]))
        ys.append(float(tm.lat2ty(a_lat[s], ZOOM)) + 0.5 + np.cumsum(step[1]))
        plain.append(take(k))
    for r in range(n_rings):
        cx, cy = centers[r % len(centers)]
        jitter = _u01(seed, np.array([r, r]), 901 + r) - 0.5
        tx0 = float(tm.lon2tx(cx + jitter[0] * 0.2, ZOOM))
        ty0 = float(tm.lat2ty(cy + jitter[1] * 0.2, ZOOM))
        radius = 3 + r % 2
        ang = np.linspace(0.0, 2 * np.pi, 12 * radius, endpoint=False)
        xs.append(tx0 + 0.5 + radius * np.cos(ang))
        ys.append(ty0 + 0.5 + radius * np.sin(ang))
        rings.append(take(len(ang)))
    n_tiles = float(1 << ZOOM)
    px = np.clip(np.concatenate(xs), 0.0, n_tiles - 1e-6)
    py = np.clip(np.concatenate(ys), 0.0, n_tiles - 1e-6)
    ids = _ids("img", first_idx, nxt - first_idx, 12)
    return ids, tm.tile2lon(px, ZOOM), tm.tile2lat(py, ZOOM), plain, rings


def sessions_table(seed: int, n_images: int, plain_members: list[list[str]],
                   ring_members: list[list[str]], n_chains: int,
                   depth: int) -> pa.Table:
    """Plain sessions (every 17th with a missing member, so it is
    dropped), ring sessions, and ``n_chains`` collection chains nested
    ``depth`` deep: col(c, d) holds two plain sessions and col(c, d+1).
    Rings stay out of collections: with --complete-sessions every image
    of a collection inherits the collection's whole tile set, so a ring
    would hand its hole-filled interior to every image of its chain."""
    sids, kinds, members, tags = [], [], [], []
    for s, ms in enumerate(plain_members + ring_members):
        ms = list(ms)
        if s % 17 == 0 and s < len(plain_members):
            ms[1] = f"img{n_images + 7:012d}"
        sids.append(f"ses{s:08d}")
        kinds.append("session")
        members.append(ms)
        tags.append({"type": "multipolygon"} if s % 5 == 0 else {})
    n_plain = len(plain_members)
    for c in range(n_chains):
        for d in range(depth):
            cid = c * depth + d
            picks = (_u01(seed, cid * 4 + np.arange(2), 41) * n_plain).astype(np.int64)
            ms = [f"ses{p:08d}" for p in picks]
            if d + 1 < depth:
                ms.append(f"col{cid + 1:08d}")
            sids.append(f"col{cid:08d}")
            kinds.append("collection")
            members.append(ms)
            tags.append({"type": "multipolygon"} if c % 3 == 0 else {})
    return pa.table({
        "session_id": pa.array(sids),
        "kind": pa.array(kinds),
        "member_ids": pa.array(members, type=pa.list_(pa.string())),
        "tags": pa.array(tags, type=pa.map_(pa.string(), pa.string())),
    })


def polygons_table(seed: int, n_polys: int, centers: np.ndarray) -> pa.Table:
    """``n_polys`` 12-gon outer rings around ``centers``; every third
    polygon also has a hole ring."""
    coord_t = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))
    pid, rid, hole, coords = [], [], [], []
    ang = np.linspace(0.0, 2 * np.pi, 12, endpoint=False)
    for p in range(n_polys):
        cx, cy = centers[p % len(centers)]
        u = _u01(seed, np.array([p, p, p]), 700 + p)
        cx += (u[0] - 0.5) * 0.6
        cy += (u[1] - 0.5) * 0.4
        rad = 0.15 + 0.35 * u[2]
        rings = [(False, rad)] + ([(True, rad * 0.3)] if p % 3 == 0 else [])
        for ring_id, (is_hole, rr) in enumerate(rings):
            pid.append(f"poly{p:04d}")
            rid.append(ring_id)
            hole.append(is_hole)
            coords.append([{"lon": float(cx + rr * np.cos(a)),
                            "lat": float(cy + 0.75 * rr * np.sin(a))} for a in ang])
    return pa.table({
        "poly_id": pa.array(pid),
        "ring_id": pa.array(rid, type=pa.int32()),
        "is_hole": pa.array(hole),
        "coords": pa.array(coords, type=coord_t),
    })


def _cluster_centers() -> np.ndarray:
    clon, clat = geo._cluster_centers()
    return np.stack([clon, clat], axis=1)


def planted_hashes(seed: int, n: int, chain_len: int, clustered_share: float):
    """(ids, phash): ``clustered_share`` of rows sit in chains where each
    hash is its predecessor with one bit flipped, so neighbours within
    radius 3 pair up and a chain is one component reached only
    transitively; the rest are independent random hashes."""
    ids = np.arange(n, dtype=np.int64) + (np.int64(seed) << np.int64(32))
    h = geo.splitmix64(np.arange(n, dtype=np.uint64) ^ _shift(seed)
                       ^ np.uint64(0x5EED))
    n_chain = int(n * clustered_share) // chain_len * chain_len
    flips = (geo.splitmix64(np.arange(n_chain, dtype=np.uint64) ^ _shift(seed)
                            ^ np.uint64(0xF11B)) % np.uint64(64)).astype(np.uint64)
    hc = h[:n_chain].reshape(-1, chain_len).copy()
    fl = flips.reshape(-1, chain_len)
    for j in range(1, chain_len):
        hc[:, j] = hc[:, j - 1] ^ (np.uint64(1) << fl[:, j])
    h[:n_chain] = hc.reshape(-1)
    return ids, h.view(np.int64)


def write_inputs(workload: str, seed: int, scale: float, out_dir: str) -> dict:
    """Write the workload's input tables under ``out_dir``; return the
    input description (paths, sizes) the runner and checks use."""
    os.makedirs(out_dir, exist_ok=True)
    spec = SIZES[workload]

    def sized(key: str) -> int:
        return max(8, int(spec[key] * scale))

    desc: dict = {"workload": workload, "seed": seed,
                  "images": os.path.join(out_dir, "images.parquet")}
    if workload == "dedup_images":
        n = sized("hashes")
        ids, ph = planted_hashes(seed, n, CHAIN_LEN, CLUSTERED_SHARE)
        pq.write_table(pa.table({"image_id": ids, "phash": ph}), desc["images"])
        desc.update(rows=n, chain_len=CHAIN_LEN)
        return desc

    ids, lon, lat, ts = geo_images(seed, sized("images"))
    if workload == "split_points":
        pq.write_table(_image_table(ids, lon, lat, ts), desc["images"])
        desc["rows"] = len(ids)
        return desc

    centers = _cluster_centers()
    n_geo = len(ids)
    s_ids, s_lon, s_lat, plain, ring = session_points(
        seed, sized("sessions"), sized("rings"), n_geo, centers)
    ids += s_ids
    lon = np.concatenate([lon, s_lon])
    lat = np.concatenate([lat, s_lat])
    s_ts = _timestamps(seed, n_geo, len(s_ids))
    # ring members are never newer, so the incremental rewrite stays a
    # minority of the tiles
    s_ts[len(s_ids) - sum(map(len, ring)):] = TS0_MS
    ts = np.concatenate([ts, s_ts])
    sessions = sessions_table(seed, len(ids), plain, ring, sized("chains"), DEPTH)
    desc.update(sessions=os.path.join(out_dir, "sessions.parquet"),
                poly=os.path.join(out_dir, "polygons.parquet"))
    pq.write_table(_image_table(ids, lon, lat, ts), desc["images"])
    pq.write_table(sessions, desc["sessions"])
    pq.write_table(polygons_table(seed, sized("polys"), centers), desc["poly"])
    desc.update(
        rows=len(ids), geo_rows=n_geo, n_sessions=sessions.num_rows,
        rings=sized("rings"), chains=sized("chains"), depth=DEPTH,
        polys=sized("polys"),
        # the appointment date leaves NEWER_SHARE of the rows newer
        appointment_ms=int(np.quantile(ts, 1.0 - NEWER_SHARE)),
    )
    return desc

