"""Tiling stage (W2/W3/W4): H3X/S2X encode + k-ring as Arrow pandas UDFs.

Every point row gains ``h3_cell`` (res 7-11) and ``s2_cell`` columns via
vectorized numpy inside ``pandas_udf`` — the JVM<->Python boundary moves
whole Arrow batches, never rows. K-ring expansion is the candidate
generator for spatial joins: explode each point's ring so the join
becomes a plain equi-join on cell id (shuffle- or broadcast-friendly).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import h3x, s2x


def h3_encode_udf(res: int):
    @pandas_udf("long")
    def enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(h3x.latlng_to_cell(lat.to_numpy(), lon.to_numpy(), res))

    return enc


def s2_encode_udf(level: int):
    @pandas_udf("long")
    def enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(s2x.cell_id(lat.to_numpy(), lon.to_numpy(), level))

    return enc


def k_ring_udf(k: int):
    """cell -> array of ring cells (vectorized batch-wise)."""

    @pandas_udf("array<long>")
    def ring(cells: pd.Series) -> pd.Series:
        arr = cells.to_numpy(dtype=np.int64)
        if len(arr) == 0:
            return pd.Series([], dtype=object)
        idx, out = h3x.grid_disk_arrays(arr, k)
        result = [[] for _ in range(len(arr))]
        for i, c in zip(idx, out):
            result[i].append(int(c))
        return pd.Series(result)

    return ring


def covering_cells_udf(res: int, pad_m: float, ring: int):
    """(lat, lon) -> distinct cells whose union provably covers the
    ``pad_m`` disk around the point: multi-face encode (home face plus
    every face whose Voronoi region intersects the disk) then k-ring
    around each encoding. This is the candidate generator for
    within-distance joins that stays exact across icosahedron face
    boundaries and 3-face vertices."""

    @pandas_udf("array<long>")
    def cov(lat: pd.Series, lon: pd.Series) -> pd.Series:
        n = len(lat)
        if n == 0:
            return pd.Series([], dtype=object)
        pidx, cells = h3x.latlng_to_cells_multiface(
            lat.to_numpy(), lon.to_numpy(), res, pad_m
        )
        ridx, rcells = h3x.grid_disk_arrays(cells, ring)
        owner = pidx[ridx]
        order = np.argsort(owner, kind="stable")
        owner, rcells = owner[order], rcells[order]
        bounds = np.flatnonzero(np.diff(owner)) + 1
        result = [[] for _ in range(n)]
        for o, chunk in zip(
            owner[np.concatenate([[0], bounds])] if len(owner) else [],
            np.split(rcells, bounds),
        ):
            result[int(o)] = np.unique(chunk).tolist()
        return pd.Series(result)

    return cov


def _grid_inside(lats: np.ndarray, lons: np.ndarray, ry: np.ndarray, rx: np.ndarray):
    """Even-odd inside mask (n_lat, n_lon) for a regular grid vs one
    closed ring. Row-wise: each grid row shares one latitude, so the
    ring's x-intersections at that latitude are computed once and the
    whole row classifies with a single searchsorted — O(rows * E log E)
    instead of O(rows * cols * E)."""
    y1, x1 = ry[:-1], rx[:-1]
    y2, x2 = ry[1:], rx[1:]
    inside = np.zeros((len(lats), len(lons)), dtype=bool)
    for i, py in enumerate(lats):
        cond = (y1 > py) != (y2 > py)
        if not cond.any():
            continue
        xint = (x2[cond] - x1[cond]) * (py - y1[cond]) / (
            y2[cond] - y1[cond]
        ) + x1[cond]
        xint.sort()
        # parity of #{xint > lon}  (matches _ray_cast_expr's strict px < xint)
        n_le = np.searchsorted(xint, lons, side="right")
        inside[i] = ((len(xint) - n_le) % 2).astype(bool)
    return inside


def _edge_grid_nodes(
    ry, rx, lat_min, lon_min, s_lat, s_lon, n_lat, n_lon
):
    """Grid-node indices (i, j) nearest to samples taken every half
    grid step along each ring edge — marks the boundary's cells so
    sliver polygons thinner than the grid spacing still get covered."""
    ii, jj = [], []
    for k in range(len(ry) - 1):
        steps = max(
            abs(ry[k + 1] - ry[k]) / s_lat, abs(rx[k + 1] - rx[k]) / s_lon
        )
        t = np.linspace(0.0, 1.0, int(steps * 2) + 2)
        sy = ry[k] + (ry[k + 1] - ry[k]) * t
        sx = rx[k] + (rx[k + 1] - rx[k]) * t
        ii.append(np.clip(np.rint((sy - lat_min) / s_lat), 0, n_lat - 1))
        jj.append(np.clip(np.rint((sx - lon_min) / s_lon), 0, n_lon - 1))
    return (
        np.concatenate(ii).astype(np.int64),
        np.concatenate(jj).astype(np.int64),
    )


def _dilate(mask: np.ndarray, ri: int, rj: int) -> np.ndarray:
    """Binary dilation by (ri, rj) grid steps via shifted ORs."""
    out = mask
    for _ in range(ri):
        m = out.copy()
        m[1:] |= out[:-1]
        m[:-1] |= out[1:]
        out = m
    for _ in range(rj):
        m = out.copy()
        m[:, 1:] |= out[:, :-1]
        m[:, :-1] |= out[:, 1:]
        out = m
    return out


def polygon_cover_cells_batch(
    rings: list,
    res: int,
    max_cover_cells: int = 200_000,
):
    """Covering cells for a BATCH of polygons at once: returns
    ``(owner_idx, cells)`` arrays where ``owner_idx[k]`` is the index
    into ``rings`` of the polygon that ``cells[k]`` belongs to.

    ``rings``: list of ``(ring_lat, ring_lon)`` closed-ring ndarrays.

    Construction (per polygon, cheap numpy): lay a grid over the bbox
    dense enough that every point lies within
    ``pad = ring_guaranteed_m(2, res)`` of its nearest grid node; keep
    only nodes that are INSIDE the polygon (row-wise even-odd parity)
    or near its boundary (edges rasterized onto the grid), dilated by a
    conservative radius so the nearest node of ANY polygon point is
    kept — a C-shaped or diagonal polygon no longer pays for its whole
    bbox. Kept nodes from all polygons then flow through ONE
    ``latlng_to_cells_multiface`` + ONE 2-ring ``grid_disk_arrays``
    call (the same primitive ``covering_cells_udf`` builds on, so the
    across-face guarantee carries over): any polygon point P is within
    pad of a kept sample, hence ``latlng_to_cell(P)`` is in P's
    polygon's cover — the downstream cell equi-join can only
    over-select, never miss.

    ``max_cover_cells`` guards against a res too fine for a polygon's
    extent: callers should coarsen ``res`` for continent-sized
    polygons rather than explode 10^7 cells.
    """
    pad_m = h3x.ring_guaranteed_m(2, res)
    # grid diagonal/2 = 0.9 * sqrt(2)/2 * pad ~= 0.64 pad < pad
    d_m = 0.9 * pad_m
    dlat = d_m / 111_320.0
    keep_lat, keep_lon, keep_owner = [], [], []
    for pi, (ring_lat, ring_lon) in enumerate(rings):
        ry = np.asarray(ring_lat, dtype=np.float64)
        rx = np.asarray(ring_lon, dtype=np.float64)
        lat_min, lat_max = float(ry.min()), float(ry.max())
        lon_min, lon_max = float(rx.min()), float(rx.max())
        coslat = max(
            np.cos(np.radians(max(abs(lat_min), abs(lat_max)))), 0.01
        )
        dlon = d_m / (111_320.0 * coslat)
        n_lat = int((lat_max - lat_min) / dlat) + 2
        n_lon = int((lon_max - lon_min) / dlon) + 2
        # grid NODES are cheap (ray-cast parity only; no encode) but a
        # continent at res 9+ would still allocate 10^8+ booleans
        if n_lat * n_lon > 64 * max_cover_cells:
            raise ValueError(
                f"polygon bbox needs a ~{n_lat * n_lon}-node grid at res "
                f"{res} (> {64 * max_cover_cells}); use a coarser res for "
                "polygons of this extent"
            )
        lats = np.linspace(lat_min, lat_max, n_lat)
        lons = np.linspace(lon_min, lon_max, n_lon)
        s_lat = (lat_max - lat_min) / (n_lat - 1) if n_lat > 1 else dlat
        s_lon = (lon_max - lon_min) / (n_lon - 1) if n_lon > 1 else dlon
        s_lat = s_lat or dlat
        s_lon = s_lon or dlon
        mask = _grid_inside(lats, lons, ry, rx)
        ei, ej = _edge_grid_nodes(
            ry, rx, lat_min, lon_min, s_lat, s_lon, n_lat, n_lon
        )
        mask[ei, ej] = True
        # nearest grid node S of a polygon point P is within 0.71*d of
        # P; if S is outside, the boundary passes within 0.71*d of S,
        # an edge sample within ~0.96*d, that sample's marked node
        # within ~1.67*d — dilation radius 2*d/s (s <= target spacing
        # d after linspace rounding) keeps S in every case.
        ri = min(int(np.ceil(2.0 * dlat / s_lat)), n_lat)
        rj = min(int(np.ceil(2.0 * dlon / s_lon)), n_lon)
        mask = _dilate(mask, ri, rj)
        i, j = np.nonzero(mask)
        keep_lat.append(lats[i])
        keep_lon.append(lons[j])
        keep_owner.append(np.full(len(i), pi, dtype=np.int64))
    glat = np.concatenate(keep_lat)
    glon = np.concatenate(keep_lon)
    owner = np.concatenate(keep_owner)
    # one encode + one disk for the whole batch
    pidx, cells = h3x.latlng_to_cells_multiface(glat, glon, res, pad_m)
    owner = owner[pidx]
    owner, cells = _unique_pairs(owner, cells)
    ridx, rcells = h3x.grid_disk_arrays(cells, 2)
    owner, cover = _unique_pairs(owner[ridx], rcells)
    counts = np.bincount(owner, minlength=len(rings))
    if counts.max(initial=0) > max_cover_cells:
        bad = int(np.argmax(counts))
        raise ValueError(
            f"polygon {bad} cover has {int(counts[bad])} cells at res "
            f"{res} (> {max_cover_cells}); use a coarser res"
        )
    return owner, cover


def _unique_pairs(owner: np.ndarray, cells: np.ndarray):
    """Distinct (owner, cell) pairs, sorted by owner (stable for cells)."""
    order = np.lexsort((cells, owner))
    owner, cells = owner[order], cells[order]
    if len(owner) == 0:
        return owner, cells
    keep = np.empty(len(owner), dtype=bool)
    keep[0] = True
    keep[1:] = (owner[1:] != owner[:-1]) | (cells[1:] != cells[:-1])
    return owner[keep], cells[keep]


def polygon_cover_cells(
    ring_lat: np.ndarray,
    ring_lon: np.ndarray,
    res: int,
    max_cover_cells: int = 200_000,
) -> np.ndarray:
    """Single-polygon convenience wrapper over
    ``polygon_cover_cells_batch`` — see there for the guarantee."""
    _, cover = polygon_cover_cells_batch(
        [(ring_lat, ring_lon)], res, max_cover_cells
    )
    return cover


def face_edge_m_udf():
    """(lat, lon) -> great-circle meters to the nearest face boundary
    (see h3x.face_edge_distance_m)."""

    @pandas_udf("double")
    def edge(lat: pd.Series, lon: pd.Series) -> pd.Series:
        if len(lat) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(
            h3x.face_edge_distance_m(lat.to_numpy(), lon.to_numpy())
        )

    return edge


def with_cells(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    h3_res: int = 9,
    s2_level: int = 16,
    h3_col: str = "h3_cell",
    s2_col: str = "s2_cell",
) -> DataFrame:
    """Add H3X + S2X cell columns to any point DataFrame. Both encodes
    run inside ONE pandas UDF so the (lat, lon) batch crosses the
    JVM<->Arrow boundary once, not twice."""

    @pandas_udf("struct<h3: long, s2: long>")
    def enc2(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        la, lo = lat.to_numpy(), lon.to_numpy()
        return pd.DataFrame(
            {
                "h3": h3x.latlng_to_cell(la, lo, h3_res),
                "s2": s2x.cell_id(la, lo, s2_level),
            }
        )

    return (
        df.withColumn("_c2", enc2(F.col(lat_col), F.col(lon_col)))
        .withColumn(h3_col, F.col("_c2.h3"))
        .withColumn(s2_col, F.col("_c2.s2"))
        .drop("_c2")
    )
