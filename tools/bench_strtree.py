"""STR-tree vs linear-scan PIP at growing ring counts.

Two measurements:
1. kernel (single core): `_in_any` vs `_in_any_indexed` on one numpy
   batch — the per-core cost the Arrow clip kernels pay per batch;
2. Spark drain (local[N]): `clip_points` over the events-scale point
   set (STR-tree path, picked by `use_index="auto"` at 5 000 rings).

Ring sets are area-normalized (~1x world coverage regardless of ring
count — the admin-boundary regime); every level is warmed once before
timing so first-touch page faults (BASELINE.md r5 "VM memory weather")
don't contaminate the comparison.  Usage:
    python tools/bench_strtree.py [n_points] [spark_cores]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapsplit_spark.operators.clip import (  # noqa: E402
    _in_any,
    _membership_fn,
    make_ring,
)

WORLD_DEG2 = 360.0 * 170.0


def ring_set(rng, n):
    rmax = np.sqrt(WORLD_DEG2 / (np.pi * n)) * 1.4
    out = []
    for _ in range(n):
        k = int(rng.integers(4, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.2 * rmax, rmax, k)
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        out.append(make_ring(np.column_stack([cx + rad * np.cos(ang),
                                              cy + rad * np.sin(ang)])))
    return out


def kernel_ladder(n_pts: int):
    rng = np.random.default_rng(7)
    px = rng.uniform(-180, 180, n_pts)
    py = rng.uniform(-85, 85, n_pts)
    rows = []
    for n_rings in (500, 5_000, 50_000):
        rings = ring_set(rng, n_rings)
        tree_fn = _membership_fn(rings, True)
        lin_n = min(n_pts, max(2_000, n_pts // max(1, n_rings // 500)))
        tree_fn(px, py)  # warm (allocator + tree pages)
        t_tree = min(_time(lambda: tree_fn(px, py)) for _ in range(3))
        t_lin_part = min(_time(lambda: _in_any(px[:lin_n], py[:lin_n], rings))
                         for _ in range(2))
        t_lin = t_lin_part * (n_pts / lin_n)
        assert np.array_equal(_in_any(px[:lin_n], py[:lin_n], rings),
                              tree_fn(px[:lin_n], py[:lin_n]))
        rows.append({
            "n_rings": n_rings,
            "linear_s": round(t_lin, 2),
            "linear_extrapolated": lin_n < n_pts,
            "tree_s": round(t_tree, 3),
            "speedup": round(t_lin / t_tree, 1),
            "tree_kpts_per_s_core": round(n_pts / t_tree / 1e3, 0),
        })
        print(rows[-1], flush=True)
    return rows


def spark_drain(n_pts: int, cores: int):
    from mapsplit_spark.operators.clip import clip_points
    from mapsplit_spark.session import get_spark
    from mapsplit_spark import sqlgen
    from pyspark.sql import functions as F

    spark = get_spark(cores=cores, shuffle_partitions=cores)
    rng = np.random.default_rng(11)
    rings = ring_set(rng, 5_000)
    pts = spark.range(n_pts).select(
        F.col("id").alias("event_id"),
        F.expr(sqlgen.derived_lon_sql("id")).alias("lon"),
        F.expr(sqlgen.derived_lat_sql("id")).alias("lat"),
    )
    clipped = clip_points(pts, rings, [])
    clipped.count()  # warm
    t = min(_time(lambda: clipped.count()) for _ in range(2))
    n_kept = clipped.count()
    spark.stop()
    return {"n_rings": 5_000, "n_pts": n_pts, "cores": cores,
            "drain_s": round(t, 2), "kept": n_kept,
            "mpts_per_s": round(n_pts / t / 1e6, 2)}


def _time(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    n_pts = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    kernel = kernel_ladder(n_pts)
    drain = spark_drain(max(n_pts * 10, 2_000_000), cores)
    print(json.dumps({"kernel": kernel, "spark_drain": drain}))
