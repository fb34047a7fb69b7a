"""Deterministic synthetic geolocation for image ids (FIXTURES.md §1).

Each image row carries a synthetic (lat, lon) that is a pure function of
its integer index: splitmix64(idx) drives a uniform world position, and a
fixed fraction (``HOT_FRACTION``) of rows is redirected into a small set of dense
"urban" clusters (Zipf-weighted cluster choice, tight Gaussian spread) to
create hot tiles for the skew tests mandated by BASELINE.json.

The SAME function is used by the Spark job (via a vectorized Arrow UDF or
precomputed columns), the data generator, and the pure-numpy oracle, so
golden manifests match exactly.  Everything is integer/float64
deterministic — no RNG state, no platform dependence beyond IEEE754.
"""

from __future__ import annotations

import numpy as np

from . import tilemath as tm

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# default skew profile
N_CLUSTERS = 20
HOT_FRACTION = 0.35  # fraction of rows pulled into clusters
CLUSTER_SIGMA_DEG = 0.03  # tight spread → hot tiles at z13+
ZIPF_S = 1.2


def splitmix64(x) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain algorithm,
    Steele/Lea/Flood 2014). uint64 in → uint64 out."""
    with np.errstate(over="ignore"):
        z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & MASK64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK64
        return z ^ (z >> np.uint64(31))


def _u01(x, salt: int) -> np.ndarray:
    """Deterministic uniform [0,1) stream keyed by (idx, salt)."""
    h = splitmix64(np.asarray(x, dtype=np.uint64) ^ splitmix64(np.uint64(salt)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _cluster_centers():
    """Deterministic cluster centers (lon, lat), Mercator-valid."""
    ks = np.arange(N_CLUSTERS, dtype=np.uint64)
    lon = _u01(ks, 101) * 360.0 - 180.0
    lat = _u01(ks, 202) * 160.0 - 80.0  # keep clusters away from poles
    return lon, lat


def _zipf_cdf(n: int, s: float = ZIPF_S):
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def _gauss_pair(idx, salt: int):
    """Box-Muller from two deterministic uniforms."""
    u1 = np.clip(_u01(idx, salt), 1e-12, 1.0)
    u2 = _u01(idx, salt + 7)
    r = np.sqrt(-2.0 * np.log(u1))
    return r * np.cos(2 * np.pi * u2), r * np.sin(2 * np.pi * u2)


def geo(idx):
    """idx (int array) → (lat, lon) float64 arrays.

    Deterministic: uniform world point, with ``HOT_FRACTION`` of rows
    redirected to Zipf-weighted Gaussian clusters (skew / hot tiles).
    """
    idx = np.asarray(idx, dtype=np.uint64)
    lon = _u01(idx, 1) * 360.0 - 180.0
    lat = _u01(idx, 2) * (tm.MAX_LAT - tm.MIN_LAT) + tm.MIN_LAT

    hot = _u01(idx, 3) < HOT_FRACTION
    cdf = _zipf_cdf(N_CLUSTERS)
    pick = np.searchsorted(cdf, _u01(idx, 4), side="right")
    pick = np.minimum(pick, N_CLUSTERS - 1)
    clon, clat = _cluster_centers()
    g1, g2 = _gauss_pair(idx, 5)
    hlon = clon[pick] + g1 * CLUSTER_SIGMA_DEG
    hlat = clat[pick] + g2 * CLUSTER_SIGMA_DEG

    lon = np.where(hot, hlon, lon)
    lat = np.where(hot, hlat, lat)
    # clamp into valid Mercator domain (reference clamps at tile level too)
    lon = np.clip(lon, tm.MIN_LON, np.nextafter(tm.MAX_LON, -np.inf))
    lat = np.clip(lat, tm.MIN_LAT, tm.MAX_LAT)
    return lat, lon
