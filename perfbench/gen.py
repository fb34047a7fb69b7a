"""Seeded benchmark inputs, owned by the benchmark.

Every table is a pure function of ``(seed, size)``: the seed shifts the
row-index base fed to ``mapsplit_spark.geo`` / ``geo.splitmix64``, so
the same seed always gives the same parquet and two seeds give disjoint
point sets.  The program under test only ever sees the parquet written
here.  Expected outputs that do not need Spark (the planted pair sets)
are computed here as well, as order-insensitive digests
(``digest_rows``).

Each ``make_*`` function writes under its target directory and returns a
JSON-able ``meta`` dict with row counts, bytes written and expected
digests; ``cached`` reuses the directory when a previous run with the
same seed and size completed it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mapsplit_spark import datagen, geo

MASK64 = (1 << 64) - 1
COORD_T = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))


def index_base(seed: int) -> np.uint64:
    """Row-index offset for ``seed``: 2^32 rows apart, so seeds never
    share an index (and therefore never share a point or a hash)."""
    return np.uint64(seed) << np.uint64(32)


def _mix(x) -> np.ndarray:
    return geo.splitmix64(np.asarray(x, dtype=np.uint64))


def digest_rows(*cols) -> dict:
    """Order-insensitive digest of a multiset of rows: the row count and
    the 64-bit wrapping sum of a splitmix64 chain over each row's values.
    String columns are hashed through blake2b first."""
    acc = None
    for c in cols:
        a = np.asarray(c)
        if a.dtype.kind in "OUS":
            a = np.array([int.from_bytes(hashlib.blake2b(str(s).encode(), digest_size=8)
                                         .digest(), "little") for s in a], dtype=np.uint64)
        else:
            a = a.astype(np.int64).view(np.uint64)
        acc = _mix(a) if acc is None else _mix(acc ^ _mix(a))
    n = 0 if acc is None else len(acc)
    total = int(acc.sum(dtype=np.uint64)) if n else 0
    return {"rows": n, "sum": f"{total & MASK64:016x}"}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def cached(out_dir: str, build) -> dict:
    """Return ``meta.json`` of ``out_dir`` if a completed build is there,
    else run ``build(out_dir) -> meta`` into a fresh directory."""
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    meta = build(out_dir)
    meta["input_bytes"] = _dir_bytes(out_dir)
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return meta


# ---------------------------------------------------------------- split_full

def _octagon(cx: float, cy: float, rx: float, ry: float) -> list:
    ang = np.linspace(0, 2 * np.pi, 9)[:-1]
    return [{"lon": float(cx + rx * np.cos(a)), "lat": float(cy + ry * np.sin(a))}
            for a in ang]


def clip_rings(seed: int) -> pa.Table:
    """One concave world-scale star ring with three holes, plus 40 small
    octagons (20 on the fixture's fixed urban clusters, 20 at seeded
    places), in the ``clip_polygons`` schema.  Most tiles survive."""
    ang = np.linspace(0, 2 * np.pi, 33)[:-1]
    radius = np.where(np.arange(32) % 2 == 0, 1.0, 0.8)  # concave star
    star = [{"lon": float(175.0 * r * np.cos(a)), "lat": float(80.0 * r * np.sin(a))}
            for a, r in zip(ang, radius)]
    u = _mix(np.arange(120, dtype=np.uint64) + index_base(seed)).astype(np.float64) / 2.0 ** 64
    rows = [("world", 0, False, star)]
    for h in range(3):
        rows.append(("world", h + 1, True,
                     _octagon(u[h] * 240 - 120, u[h + 3] * 100 - 50, 2 + 3 * u[h + 6], 2.0)))
    clon, clat = geo._cluster_centers()
    for k in range(40):
        if k < 20:
            cx, cy = float(clon[k]), float(clat[k])
        else:
            cx, cy = u[10 + k] * 340 - 170, u[60 + k] * 150 - 75
        rows.append((f"small{k:02d}", 0, False, _octagon(cx, cy, 0.5 + 1.5 * u[k], 0.5)))
    return pa.table({
        "poly_id": pa.array([r[0] for r in rows]),
        "ring_id": pa.array([r[1] for r in rows], type=pa.int32()),
        "is_hole": pa.array([r[2] for r in rows]),
        "coords": pa.array([r[3] for r in rows], type=COORD_T),
    })


def make_split_full(out_dir: str, seed: int, n_images: int) -> dict:
    """Images without bytes (ids ``img%012d`` of the local index, seeded
    positions), ``datagen.make_sessions`` sessions/collections over them,
    and ``clip_rings``."""
    idx = np.arange(n_images, dtype=np.uint64) + index_base(seed)
    lat, lon = geo.geo(idx)
    ts_ms = np.int64(1_704_067_200_000) + (_mix(idx ^ np.uint64(23))
                                           % np.uint64(5_184_000_000)).astype(np.int64)
    pq.write_table(pa.table({
        "image_id": pa.array([f"img{i:012d}" for i in range(n_images)]),
        "lon": pa.array(lon), "lat": pa.array(lat), "ts_ms": pa.array(ts_ms),
    }), os.path.join(out_dir, "images.parquet"))
    sessions = datagen.make_sessions(n_images, max(4, n_images // 20))
    pq.write_table(sessions, os.path.join(out_dir, "sessions.parquet"))
    pq.write_table(clip_rings(seed), os.path.join(out_dir, "clip_polygons.parquet"))
    return {"rows": n_images, "sessions": sessions.num_rows}


# -------------------------------------------------------------- stream_dedup

def planted_hashes(seed: int, n_groups: int, salt: int) -> tuple:
    """``n_groups`` groups of three 64-bit hashes: base, base with one bit
    flipped, base with two other bits flipped — pairwise Hamming 1, 2, 3,
    so every in-group pair is a near-dup at radius 3 and (bases being
    random 64-bit values) no cross-group pair is.  → (ids, hashes)
    arrays of length 3·n_groups, each group's members consecutive; ids
    are unique per seed and salt."""
    g = np.arange(n_groups, dtype=np.uint64) + index_base(seed) + np.uint64(salt << 28)
    base = _mix(g)
    bits = (_mix(g ^ np.uint64(0xB175)) % np.uint64(61)).astype(np.uint64)
    one = np.uint64(1)
    h1 = base ^ (one << bits)
    h2 = base ^ (one << (bits + one)) ^ (one << (bits + np.uint64(2)))
    ids = np.stack([g * np.uint64(4) + np.uint64(k) for k in range(3)], axis=1)
    hashes = np.stack([base, h1, h2], axis=1)
    return ids.reshape(-1).astype(np.int64), hashes.reshape(-1).view(np.int64)


def _popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(np.ascontiguousarray(x).view(np.uint8)).reshape(-1, 64).sum(1)


def group_pairs(ids: np.ndarray, hashes: np.ndarray, when: np.ndarray) -> tuple:
    """All in-group pairs of ``planted_hashes`` output (consecutive
    triples) → (id_a < id_b, hamming, arrival) arrays, where arrival is
    the later ``when`` value of the two members."""
    out = []
    for i, j in ((0, 1), (0, 2), (1, 2)):
        a, b = ids[i::3], ids[j::3]
        out.append((np.minimum(a, b), np.maximum(a, b),
                    _popcount(hashes[i::3] ^ hashes[j::3]),
                    np.maximum(when[i::3], when[j::3])))
    return tuple(np.concatenate(c) for c in zip(*out))


def component_digest(a: np.ndarray, b: np.ndarray, group: np.ndarray) -> dict:
    """Digest of the (vertex, component) rows that connected components
    of the pairs ``(a, b)`` give, each pair tagged with its planted
    ``group``: a group's component is the smallest id among its paired
    members."""
    v, first = np.unique(np.r_[a, b], return_index=True)
    g = np.r_[group, group][first]
    comp = np.full(int(group.max()) + 1 if len(group) else 0, np.iinfo(np.int64).max)
    np.minimum.at(comp, g, v)
    return digest_rows(v, comp[g])


def make_stream_files(out_dir: str, seed: int, n_files: int, groups_per_file: int) -> dict:
    """``n_files`` landing files for the streaming dedup.  A quarter of
    each file's rows are singletons; the rest are members of planted
    groups of three whose members land in the same file or spread over
    the next files, so later drains find partners in state.  Columns:
    ``image_id`` long, ``phash`` long, ``event_time`` TIMESTAMP (UTC,
    tz-aware: a TIMESTAMP_NTZ column cannot carry a watermark).
    Files are staged under ``pending/`` for the benchmark to land one
    per drain; ``meta['pairs_upto'][k]`` is the planted-pair digest of
    files 0..k and ``meta['components_upto'][k]`` the digest of those
    pairs' connected components."""
    n_groups = n_files * groups_per_file
    ids, hashes = planted_hashes(seed, n_groups, salt=2)
    group = np.repeat(np.arange(n_groups), 3)
    member = np.tile(np.arange(3), n_groups)
    lag = (_mix(group.astype(np.uint64) ^ np.uint64(0x1A6)) % np.uint64(3)).astype(np.int64)
    file_of = np.minimum(group // groups_per_file + member * lag, n_files - 1)
    s_ids, s_hashes = (c[::3] for c in planted_hashes(seed, n_groups, salt=3))
    s_file = np.repeat(np.arange(n_files), groups_per_file)  # unrelated singletons
    a, b, d, arrival = group_pairs(ids, hashes, file_of)
    pair_group = np.tile(np.arange(n_groups), 3)
    pend = os.path.join(out_dir, "pending")
    os.makedirs(pend)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    meta = {"files": [], "pairs_upto": [], "components_upto": []}
    for k in range(n_files):
        f_ids = np.r_[ids[file_of == k], s_ids[s_file == k]]
        f_hashes = np.r_[hashes[file_of == k], s_hashes[s_file == k]]
        order = np.argsort(_mix(f_ids.view(np.uint64)))
        ts = t0 + (np.arange(len(f_ids)) + k * 100_000).astype("timedelta64[s]")
        name = f"part-{k:05d}.parquet"
        pq.write_table(pa.table({
            "image_id": pa.array(f_ids[order]),
            "phash": pa.array(f_hashes[order]),
            "event_time": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        }), os.path.join(pend, name))
        upto = arrival <= k
        meta["files"].append({"name": name, "rows": int(len(f_ids))})
        meta["pairs_upto"].append(digest_rows(a[upto], b[upto], d[upto]))
        meta["components_upto"].append(component_digest(a[upto], b[upto], pair_group[upto]))
    meta["rows"] = sum(f["rows"] for f in meta["files"])
    return meta
