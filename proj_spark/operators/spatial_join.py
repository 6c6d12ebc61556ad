"""Point-in-polygon spatial join: S2 cell-cover prefilter + exact test.

Plan shape:

  points ── cell (level >= L) ── cell_join_key ──┐
                                                 ├─ equi-join ──> candidate pairs
  polygons ── driver cover ── (cell, poly) rows ─┘  (broadcast hash join if
                                                     the cover fits, sort-merge
                                                     join otherwise)
  candidates ── pandas_udf("boolean") exact test ──> matches

Why this scales: the expensive O(points x polygons) predicate becomes an
int64 equality join Catalyst can broadcast or SMJ; AQE handles skewed
megacells (plus optional explicit salting, see operators/skew.py). Only
the candidate pairs cross to Python, and only as (lon, lat, poly_idx):
payload columns stay in the JVM, and one padded-edge numpy kernel tests
every candidate against its own polygon with no per-polygon loop.

The cover plays the role of a spatial index as a *relational* structure
instead of a pointer structure, because at 10^12 rows the index must be
a join, not a tree walk.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from proj_spark import cells
from proj_spark.functions import cell_join_key, cell_parent, s2_cell_udf
from proj_spark.sources.synth import Polygon

# S2 ST-space edge of one cell at level L is 1/2^L of a face; one face is
# ~90 deg, and quadratic-ST distortion keeps linear cell size within ~1.6x,
# so 0.35 * 90/2^L sampling spacing guarantees >=2 samples per cell span.
_FACE_DEG = 90.0


def _cell_size_deg(level: int) -> float:
    return _FACE_DEG / (1 << level)


def polygon_cover(polys: Sequence[Polygon], level: int) -> pd.DataFrame:
    """Driver-side cover: (cell, polygon_id) rows for every level-``level``
    cell intersecting each polygon's padded bbox.

    Sampling-based cover: the padded bbox is rasterized at sub-cell spacing
    and sample points are encoded; dedup yields the cell set. Deterministic,
    exact enough by construction (spacing < half min cell edge, padding >
    one cell edge), and validated against brute force in tests.
    """
    out_cells: list[np.ndarray] = []
    out_ids: list[np.ndarray] = []
    out_idx: list[np.ndarray] = []
    size = _cell_size_deg(level)
    pad = 1.5 * size
    step = 0.35 * size
    for k, p in enumerate(polys):
        min_lon, min_lat, max_lon, max_lat = p.bbox
        lat_lo = max(min_lat - pad, -89.99)
        lat_hi = min(max_lat + pad, 89.99)
        lats = np.arange(lat_lo, lat_hi + step, step)
        # stretch lon spacing by 1/cos(lat) but never wider than the pole cap
        coslat = max(math.cos(math.radians(min(abs(lat_lo), abs(lat_hi), 89.0))), 0.02)
        lon_step = step / coslat if abs(max_lat) < 89 and abs(min_lat) < 89 else step
        lon_step = min(lon_step, 1.0)
        lons = np.arange(min_lon - pad, max_lon + pad + lon_step, lon_step)
        glon, glat = np.meshgrid(lons, lats)
        glon = ((glon + 180.0) % 360.0) - 180.0  # wrap continuous lon
        cid = np.unique(cells.s2_cell_id(glon.ravel(), glat.ravel(), level))
        out_cells.append(cid)
        out_ids.append(np.full(cid.shape, p.polygon_id, dtype=object))
        out_idx.append(np.full(cid.shape, k, dtype=np.int64))
    return pd.DataFrame(
        {
            "cell": np.concatenate(out_cells).astype(np.int64),
            "polygon_id": np.concatenate(out_ids),
            "poly_idx": np.concatenate(out_idx),
        }
    )


def _exact_test(polys: Sequence[Polygon]) -> Callable[..., np.ndarray]:
    """Vectorized exact point-in-polygon test for candidate pairs:
    ``inside(lon, lat, poly_idx)`` -> bool ndarray, one entry per pair,
    each point tested against ``polys[poly_idx]``.

    Rings are packed [x0, y0, x1, y1, ...] and may use continuous
    longitudes beyond +-180 (antimeridian); points are tested at lon and
    lon + 360. Caps are (lon, lat, radius_deg) great-circle discs.
    """
    # padded edge matrices: (n_polys, max_edges). Degenerate padding edges
    # (repeated first vertex => y1 == y2) contribute no ray crossings, so a
    # single (candidates x max_edges) broadcast evaluates every candidate
    # against its own polygon.
    max_e = max((len(p.ring) // 2 for p in polys if p.kind == "poly"), default=1)
    P = len(polys)
    EX1 = np.zeros((P, max_e)); EY1 = np.zeros((P, max_e))
    EX2 = np.zeros((P, max_e)); EY2 = np.zeros((P, max_e))
    CAP = np.full((P, 3), np.nan)
    is_cap = np.zeros(P, dtype=bool)
    for k, p in enumerate(polys):
        if p.kind == "cap":
            is_cap[k] = True
            CAP[k] = p.cap
            continue
        xs, ys = p.ring[0::2], p.ring[1::2]
        ne = len(xs)
        EX1[k, :ne] = xs; EY1[k, :ne] = ys
        EX2[k, :ne] = np.roll(xs, -1); EY2[k, :ne] = np.roll(ys, -1)
        if ne < max_e:
            EX1[k, ne:] = xs[0]; EY1[k, ne:] = ys[0]
            EX2[k, ne:] = xs[0]; EY2[k, ne:] = ys[0]

    def inside(lon: np.ndarray, lat: np.ndarray, pl: np.ndarray) -> np.ndarray:
        out = np.zeros(len(pl), dtype=bool)
        ring_sel = ~is_cap[pl]
        if ring_sel.any():
            rp = pl[ring_sel]
            x1 = EX1[rp]; y1 = EY1[rp]; x2 = EX2[rp]; y2 = EY2[rp]
            py = lat[ring_sel][:, None]
            cond = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            parity = np.zeros(len(rp), dtype=np.int64)
            for px in (lon[ring_sel], lon[ring_sel] + 360.0):  # antimeridian
                cross = cond & (px[:, None] < xint)
                parity += cross.sum(axis=1)
            # a ring spans less than 360 deg of longitude, so at most one of
            # the two shifted points can be inside: the parities never add up
            out[ring_sel] = (parity % 2).astype(bool)
        cap_sel = is_cap[pl]
        if cap_sel.any():
            cp = CAP[pl[cap_sel]]
            d = np.degrees(np.arccos(np.clip(
                np.sin(np.radians(cp[:, 1])) * np.sin(np.radians(lat[cap_sel]))
                + np.cos(np.radians(cp[:, 1])) * np.cos(np.radians(lat[cap_sel]))
                * np.cos(np.radians(lon[cap_sel] - cp[:, 0])), -1.0, 1.0)))
            out[cap_sel] = d <= cp[:, 2]
        return out

    return inside


def _cover_join(
    pts: DataFrame,
    cell: Column,
    cover: DataFrame,
    polys: Sequence[Polygon],
    *,
    level: int,
    lon_col: str,
    lat_col: str,
    broadcast: bool,
    keep_cols: Sequence[str],
) -> DataFrame:
    """Equi-join ``pts`` on the key of its ``cell`` against the key of the
    cover's cells, then keep the candidate pairs the exact test accepts:
    ``keep_cols`` of ``pts`` plus ``polygon_id``.

    The test is a BOOLEAN pandas UDF over (lon, lat, poly_idx) only:
    strings (image_id, caption, ...) never cross the Arrow boundary and
    the filter itself runs JVM-side.
    """
    on = cell_join_key(cell, level) == cell_join_key(cover["cell"], level)
    if broadcast:
        cand = pts.join(F.broadcast(cover), on)
    else:
        # co-locate both sides on the cell key; AQE splits skewed cells
        cand = pts.hint("merge").join(cover.hint("merge"), on)

    inside = _exact_test(list(polys))

    @pandas_udf("boolean")
    def _inside(lon: pd.Series, lat: pd.Series, pidx: pd.Series) -> pd.Series:
        return pd.Series(inside(lon.to_numpy(dtype=np.float64),
                                lat.to_numpy(dtype=np.float64),
                                pidx.to_numpy(dtype=np.int64)))

    return (
        cand.filter(_inside(pts[lon_col], pts[lat_col], cover["poly_idx"]))
        .select(*[pts[c] for c in keep_cols], cover["polygon_id"])
    )


def spatial_join_fused(
    points: DataFrame,
    polys: Sequence[Polygon],
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 8,
    cell_col: str,
    cell_level: int,
) -> DataFrame:
    """Broadcast variant for points that already carry a cell id
    (``cell_col`` at ``cell_level`` >= ``level``): returns the points'
    columns plus ``polygon_id``, one row per (point, containing polygon).

    The level-``level`` cover is broadcast and joined in the JVM on the
    cell's join key, so the points' own cell needs no second encode and
    no point crosses to Python for the lookup. The exact test then runs
    in one Python evaluation over the candidate pairs only. Fall back to
    ``spatial_join(strategy='smj')`` when the cover does not fit in memory.
    """
    if cell_level < level:
        raise ValueError(f"cell_level {cell_level} is coarser than level {level}")
    cover = points.sparkSession.createDataFrame(polygon_cover(polys, level))
    return _cover_join(
        points, points[cell_col], cover, polys, level=level, lon_col=lon_col,
        lat_col=lat_col, broadcast=True, keep_cols=points.columns)


def spatial_join(
    points: DataFrame,
    polys: Sequence[Polygon],
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 10,
    strategy: str = "auto",
    keep_cols: Sequence[str] | None = None,
    cell_col: str | None = None,
    cell_level: int | None = None,
    cover: DataFrame | None = None,
) -> DataFrame:
    """points (with lon/lat cols) x polygons -> rows that fall inside.

    strategy: "broadcast" | "smj" | "auto" (broadcast when the cover is
    small enough to ship to every executor; SMJ on the cell key otherwise).

    cell_col/cell_level: reuse an existing cell column computed at a finer
    (>=) level — the join key becomes a pure JVM prefix-truncation instead
    of a second pandas-UDF pass over all points.

    cover: a precomputed cover DataFrame (cell, polygon_id, poly_idx) from
    ``polygon_cover`` — pass it when joining repeatedly against the same
    polygon set so the driver-side sampling + upload happen once.

    The output holds ``keep_cols`` (default: every point column; a ``cell``
    column among them is the level-``level`` cell id), lon, lat and
    ``polygon_id``.
    """
    spark = points.sparkSession
    if cover is None:
        cover_pdf = polygon_cover(polys, level)
        cover = spark.createDataFrame(cover_pdf)
        n_cover = len(cover_pdf)
    else:
        n_cover = None

    if cell_col is not None and (cell_level or level) >= level:
        src = F.col(cell_col)
        pts = points.withColumn(
            "cell", src if (cell_level or level) == level else cell_parent(src, level)
        )
    else:
        pts = points.withColumn(
            "cell", s2_cell_udf(level)(F.col(lon_col), F.col(lat_col))
        )

    if strategy == "auto":
        strategy = "broadcast" if (n_cover is None or n_cover <= 2_000_000) else "smj"
    keep = list(keep_cols) if keep_cols else [c for c in points.columns]
    return _cover_join(
        pts, pts["cell"], cover, polys, level=level, lon_col=lon_col,
        lat_col=lat_col, broadcast=strategy == "broadcast",
        keep_cols=list(dict.fromkeys(keep + [lon_col, lat_col])))
