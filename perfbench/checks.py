"""Correctness oracles, independent of the engine's join code.

* ``pip_pairs``: brute-force point-in-polygon over numpy arrays — a bbox
  prefilter on latitude-sorted points, its own even-odd crossing test with
  a +360 retry for rings that continue past the antimeridian, and a
  great-circle test for caps. Nothing from ``proj_spark.operators`` or
  ``proj_spark.cells`` is used.
* ``pair_digest``: order-insensitive digest of (image number, polygon
  index) pairs: count, exact sum, sum of squares and xor of pair keys.
* CRS digests compare Spark's output with direct ``fwd_deg``/``inv_deg``
  calls on the same arrays, and bound the fwd -> inv round trip.
"""

from __future__ import annotations

import numpy as np


def lonlat_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Image coordinates as the input contract defines them: lon uniform
    from the low 32 phash bits, lat area-uniform from the high 32."""
    h = np.asarray(phash, dtype=np.int64).view(np.uint64)
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.float64)
    hi = (h >> np.uint64(32)).astype(np.float64)
    lon = -180.0 + lo / 2.0**32 * 360.0
    lat = np.degrees(np.arcsin(np.clip(2.0 * (hi / 2.0**32) - 1.0, -1.0, 1.0)))
    return lon, lat


def _even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    xs, ys = ring[0::2], ring[1::2]
    inside = np.zeros(px.shape, dtype=bool)
    n = len(xs)
    for k in range(n):
        x1, y1 = xs[k], ys[k]
        x2, y2 = xs[(k + 1) % n], ys[(k + 1) % n]
        if y1 == y2:
            continue
        straddles = (y1 > py) != (y2 > py)
        xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddles & (px < xcross)
    return inside


def _in_cap(lon, lat, cap) -> np.ndarray:
    clon, clat, radius = cap
    p1, p2 = np.radians(clat), np.radians(lat)
    dl = np.radians(lon - clon)
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return np.degrees(2 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))) <= radius


def pip_pairs(lon: np.ndarray, lat: np.ndarray, polys) -> tuple[np.ndarray, np.ndarray]:
    """All (point index, polygon index) pairs with the point inside."""
    order = np.argsort(lat, kind="stable")
    lat_sorted = lat[order]
    pts, pls = [], []
    for k, p in enumerate(polys):
        min_lon, min_lat, max_lon, max_lat = p.bbox
        lo = np.searchsorted(lat_sorted, min_lat, side="left")
        hi = np.searchsorted(lat_sorted, max_lat, side="right")
        cand = order[lo:hi]
        if cand.size == 0:
            continue
        cl, ct = lon[cand], lat[cand]
        if p.kind == "cap":
            hit = _in_cap(cl, ct, p.cap)
        else:
            hit = np.zeros(cand.size, dtype=bool)
            for shift in (0.0, 360.0):
                sx = cl + shift
                box = (sx >= min_lon) & (sx <= max_lon)
                if box.any():
                    hit[box] |= _even_odd(sx[box], ct[box], p.ring)
        sel = cand[hit]
        pts.append(sel)
        pls.append(np.full(sel.size, k, dtype=np.int64))
    if not pts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(pts), np.concatenate(pls)


def pair_key(image_num, poly_idx) -> np.ndarray:
    """One int64 per (image, polygon) pair: image number * 4096 + index."""
    return np.asarray(image_num, np.int64) * 4096 + np.asarray(poly_idx, np.int64)


def pair_digest(keys: np.ndarray) -> dict:
    """Order-insensitive digest of a multiset of pair keys: count, exact
    sum and sum of squares, and xor. Spark computes the same four numbers
    with decimal sums (``workloads.observe_pairs``)."""
    k = np.asarray(keys, np.int64)
    ints = k.tolist()
    return {"pairs": len(ints), "sum": str(sum(ints)),
            "sumsq": str(sum(v * v for v in ints)),
            "xor": str(int(np.bitwise_xor.reduce(k)) if len(ints) else 0)}


def digest_matches(got: dict, want: dict) -> bool:
    return all(str(got[k]) == str(want[k]) for k in ("pairs", "sum", "sumsq", "xor"))


def close(got: np.ndarray, want: np.ndarray, atol: float) -> bool:
    """Element-wise within atol, NaN only where the reference is NaN."""
    got = np.asarray(got, np.float64)
    want = np.asarray(want, np.float64)
    if got.shape != want.shape:
        return False
    gn, wn = ~np.isfinite(got), ~np.isfinite(want)
    if not np.array_equal(gn, wn):
        return False
    return bool(np.all(np.abs(got[~gn] - want[~wn]) <= atol))
