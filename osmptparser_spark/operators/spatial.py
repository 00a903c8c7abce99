"""Spatial join operators (W6/W7/W8): within-distance joins, kNN,
point-in-polygon, raster<->vector.

Strategy at 100 TB: every spatial predicate is reduced to an equi-join
on H3X cell ids (candidate generation), then refined in the JVM with
an exact haversine / an even-odd ray cast (a Catalyst higher-order
fold). Each join has one plan; the point-in-polygon refine join is
salted so a hot polygon's candidates spread over several tasks; AQE
skew-join splitting absorbs moderate cell skew in the candidate joins.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geo import haversine_expr
from ..functions.tiling import (
    covering_cells_udf,
    face_edge_m_udf,
    h3_encode_udf,
    k_ring_udf,
    polygon_cover_cells_batch,
)
from ..session import materialize


def _with_cell(df: DataFrame, res: int, lat: str, lon: str, out: str) -> DataFrame:
    # coalesce to a sentinel that never matches a real cell id: the
    # encode is total (never null), but Catalyst cannot know that, and
    # an equi-join on a nullable UDF column gets an inferred
    # isnotnull(enc(...)) filter that evaluates the Arrow UDF a SECOND
    # time per row. A provably-non-null key removes the inferred
    # filter — one encode pass instead of two (visible in the plan as
    # a single ArrowEvalPython per side).
    return df.withColumn(
        out,
        F.coalesce(h3_encode_udf(res)(F.col(lat), F.col(lon)), F.lit(-1)),
    )


def within_distance_join(
    points: DataFrame,
    stops: DataFrame,
    radius_m: float,
    res: int = 9,
    point_id: str = "id",
    stop_id: str = "id",
) -> DataFrame:
    """All (point, stop) pairs within ``radius_m``: covering-cell
    candidate explode on the point side, equi-join on cell, exact
    haversine refine (JVM-side). The ring is the guaranteed-coverage
    ``h3x.ring_for_radius(radius_m, res)``.

    Coverage holds across icosahedron face boundaries: the point side
    uses ``covering_cells_udf`` (multi-face encode + ring), so a stop
    whose home cell lies on an adjacent face still equi-joins — the
    round-1 version's k-ring never left the point's face and silently
    missed those pairs."""
    from ..functions.h3x import ring_for_radius

    ring = ring_for_radius(radius_m, res)
    p = (
        points.withColumn(
            "_cells", covering_cells_udf(res, radius_m, ring)(F.col("lat"), F.col("lon"))
        )
        .select(
            F.col(point_id).alias("point_id"),
            F.col("lat").alias("p_lat"),
            F.col("lon").alias("p_lon"),
            F.explode("_cells").alias("_cell"),
        )
    )
    s = _with_cell(stops, res, "lat", "lon", "_cell").select(
        F.col(stop_id).alias("stop_id"),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        "_cell",
    )
    dist = haversine_expr(
        F.col("p_lat"), F.col("p_lon"), F.col("s_lat"), F.col("s_lon")
    )
    return (
        p.join(s, "_cell")
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= radius_m)
        # a stop can match via several ring cells of the same point
        .dropDuplicates(["point_id", "stop_id"])
        .select("point_id", "stop_id", "p_lat", "p_lon", "s_lat", "s_lon", "dist_m")
    )


#: Byte budget for the pending-query set the brute pass broadcasts
#: (rows x row width); above it ``knn_join`` raises instead of shipping
#: the set to every executor.
_BRUTE_BROADCAST_MAX_BYTES = 1 << 30


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The k nearest rows per query, ties broken by ``cand_id``."""
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m"), F.col("cand_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ring_topk(
    queries: DataFrame, candidates: DataFrame, k: int, res: int, ring: int,
    query_id: str, cand_id: str,
) -> DataFrame:
    """k-ring candidate generation -> cell equi-join -> exact
    haversine -> top-k. Never leaves the query's icosahedron face."""
    q = (
        _with_cell(queries, res, "lat", "lon", "_cell0")
        .withColumn("_ring", k_ring_udf(ring)(F.col("_cell0")))
        .select(
            F.col(query_id).alias("query_id"),
            F.col("lat").alias("q_lat"),
            F.col("lon").alias("q_lon"),
            F.explode("_ring").alias("_cell"),
        )
    )
    c = _with_cell(candidates, res, "lat", "lon", "_cell").select(
        F.col(cand_id).alias("cand_id"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        "_cell",
    )
    dist = haversine_expr(
        F.col("q_lat"), F.col("q_lon"), F.col("c_lat"), F.col("c_lon")
    )
    pairs = (
        q.join(c, "_cell")
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("dist_m", dist)
    )
    return _top_k(pairs, k).select("query_id", "cand_id", "dist_m", "rank")


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    res: int = 8,
    ring: int = 2,
    query_id: str = "id",
    cand_id: str = "id",
    exact_fallback: bool = True,
) -> DataFrame:
    """W7: k nearest candidates per query, as
    ``(query_id, cand_id, dist_m, rank)``, ties broken by ``cand_id``.

    ``exact_fallback=False`` returns level 1 below alone: a lazy k-ring
    top-k that can miss neighbours beyond the ring or across a face edge.

    The exact path is a cascade of ever wider CELL joins (never
    all-pairs), each over the queries still pending:

    1. k-ring at ``(res, ring)``;
    2. k-ring at ``(res-1, 2*ring)``;
    3. ``within_distance_join``'s covering sweep at ``res-2``, radius
       ``r3 = 4 * ring_guaranteed_m(2*ring, res-1)``.

    A query's level top-k is final iff it has ``k`` rows and its k-th
    distance is within the level's guaranteed radius, capped on the
    k-ring levels at the query's distance to its icosahedron face edge
    (a k-ring never leaves its face; the sweep's multi-face cover does).
    The cascade stops once no query is pending. The rare remainder of
    level 3 goes to ``_brute_knn``, which broadcasts the pending-query
    set, never the candidate table, and raises ``ValueError`` if that
    set's bytes (rows x row width) exceed ``_BRUTE_BROADCAST_MAX_BYTES``.

    The exact path runs eagerly: the query set, each level's top-k and
    each pending set are materialized once (``session.materialize``), so
    the call starts Spark jobs and plans no level for an empty pending
    set. It returns the union of each level's final rows.
    """
    if not exact_fallback:
        return _ring_topk(queries, candidates, k, res, ring, query_id, cand_id)
    from ..functions.h3x import ring_guaranteed_m

    res2 = max(res - 1, 0)
    # (res, ring, guaranteed radius); ring None is the covering sweep
    levels = (
        (res, ring, ring_guaranteed_m(ring, res)),
        (res2, 2 * ring, ring_guaranteed_m(2 * ring, res2)),
        (max(res - 2, 0), None, 4.0 * ring_guaranteed_m(2 * ring, res2)),
    )
    edge_m = face_edge_m_udf()(F.col("lat"), F.col("lon")).alias("_edge_m")
    pending = materialize(
        queries.select(F.col(query_id).alias("query_id"), "lat", "lon", edge_m)
    )
    final = []
    for lvl_res, lvl_ring, radius in levels:
        if lvl_ring is None:
            pairs = within_distance_join(
                pending, candidates, radius, lvl_res,
                point_id="query_id", stop_id=cand_id,
            ).select(
                F.col("point_id").alias("query_id"),
                F.col("stop_id").alias("cand_id"),
                "dist_m",
            )
            topk, limit = _top_k(pairs, k), F.lit(radius)
        else:
            topk = _ring_topk(
                pending, candidates, k, lvl_res, lvl_ring, "query_id", cand_id
            )
            limit = F.least(F.lit(radius), F.col("_edge_m"))
        topk = materialize(topk)
        stats = topk.groupBy("query_id").agg(
            F.count("*").alias("_n"), F.max("dist_m").alias("_d")
        )
        # a query with no candidate at this level has null stats: pending
        complete = F.coalesce(
            (F.col("_n") >= k) & (F.col("_d") <= limit), F.lit(False)
        )
        pending = materialize(
            pending.join(stats, "query_id", "left").filter(~complete).drop("_n", "_d")
        )
        final.append(topk.join(pending, "query_id", "left_anti"))
        if pending.isEmpty():
            break
    else:
        n_pending = pending.count()
        short = pending.select(
            "query_id", F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon")
        )
        n_bytes = n_pending * short._jdf.schema().defaultSize()
        if n_bytes > _BRUTE_BROADCAST_MAX_BYTES:
            raise ValueError(
                f"kNN brute-force pass would broadcast {n_pending} pending "
                f"queries ({n_bytes} bytes > {_BRUTE_BROADCAST_MAX_BYTES}); "
                "widen ring/res or pass exact_fallback=False"
            )
        final.append(_brute_knn(short, candidates, k, cand_id))
    return functools.reduce(DataFrame.unionByName, final)


def _brute_knn(
    short: DataFrame, candidates: DataFrame, k: int, cand_id: str = "id"
) -> DataFrame:
    """Exact kNN for a SMALL pending-query set against an arbitrarily
    large candidate table. The broadcast side is the query set (the
    rescue remainder), NEVER the candidate table — the round-2 plan
    broadcast all candidates, an executor OOM at 10^9 rows. The
    candidate scan streams map-side; a per-(query, input-partition)
    partial top-k runs INSIDE the scan stage (mapInPandas keeps a
    <= k running best per query across its partition's Arrow batches
    — no aggregation buffer, no pre-shuffle collect_list), so the
    shuffle into the final merge window carries at most k rows per
    query per input partition."""
    pairs = (
        candidates.select(
            F.col(cand_id).alias("cand_id"),
            F.col("lat").alias("c_lat"),
            F.col("lon").alias("c_lon"),
        )
        .crossJoin(F.broadcast(short))
        .withColumn(
            "dist_m",
            haversine_expr(
                F.col("q_lat"), F.col("q_lon"), F.col("c_lat"), F.col("c_lon")
            ),
        )
        .select("query_id", "cand_id", "dist_m")
    )

    def partial_topk(batches):
        # qid -> (dists, cands), each <= k, ordered by (dist, cand)
        best: dict = {}
        for pdf in batches:
            for qid, grp in pdf.groupby("query_id", sort=False):
                d = grp["dist_m"].to_numpy()
                c = grp["cand_id"].to_numpy()
                if qid in best:
                    d = np.concatenate([best[qid][0], d])
                    c = np.concatenate([best[qid][1], c])
                order = np.lexsort((c, d))[:k]
                best[qid] = (d[order], c[order])
        if best:
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        np.fromiter(best, dtype=np.int64, count=len(best)),
                        [len(v[0]) for v in best.values()],
                    ),
                    "cand_id": np.concatenate([v[1] for v in best.values()]),
                    "dist_m": np.concatenate([v[0] for v in best.values()]),
                }
            )

    partial = pairs.mapInPandas(
        partial_topk, "query_id BIGINT, cand_id BIGINT, dist_m DOUBLE"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m"), F.col("cand_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "dist_m", "rank")
    )


# --- point-in-polygon (W6) -------------------------------------------------------


def _ray_cast_expr(ring, px, py):
    """Even-odd ray cast of (px, py) against a closed ``ring`` as one
    Catalyst expression: a fold over the edge indices
    ``0 .. size(ring)-2``. The crossing test guards the division (a
    horizontal edge never crosses, and ANSI mode would raise
    DIVIDE_BY_ZERO on it); a ring of fewer than 2 points matches
    nothing."""

    def edge(inside, i):
        a, b = ring[i], ring[i + 1]
        xa, ya, xb, yb = a["lon"], a["lat"], b["lon"], b["lat"]
        crosses = (ya > py) != (yb > py)
        xint = (xb - xa) * (py - ya) / (yb - ya) + xa
        return inside != F.when(crosses, px < xint).otherwise(F.lit(False))

    n = F.size(ring)
    return F.when(
        n >= 2, F.aggregate(F.sequence(F.lit(0), n - 2), F.lit(False), edge)
    ).otherwise(F.lit(False))


#: Salts per polygon: ring rows per polygon in the refine join (see
#: point_in_polygon_join).
PIP_SALT = 16


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    point_id: str = "id",
    poly_id: str = "poly_id",
) -> DataFrame:
    """W6: (point, polygon) containment pairs.

    ``polygons``: poly_id BIGINT, ring ARRAY<STRUCT<lon,lat>> (closed).

    Candidates (the 100-TB-safe plan): each polygon emits a
    provably-covering set of H3X cells at ``res``
    (``polygon_cover_cells``), exploded into (cell, poly) rows; the
    point side computes one home cell per point and the candidate stage
    is a plain shuffle hash EQUI-join on cell with the bbox kept as a
    cheap residual predicate. No broadcast of either side, no
    nested-loop — both tables can be arbitrarily large, work scales
    with true spatial overlap.

    Refine: an even-odd ray cast in Catalyst (a higher-order fold over
    the ring's edges), after an inner equi-join on (poly, salt): the
    candidate side shuffles bare (point, poly, salt) rows — never the
    ring — and meets a tiny (n_polys x ``PIP_SALT``)-row side that
    carries the only ring bytes in the whole refine, so ring bytes
    never scale with the candidate count. The ray cast is per-point,
    so salting is result-neutral — without it a country-sized polygon
    with 10^9 candidate points is ONE straggler join task; with it the
    hot polygon spreads over ``PIP_SALT`` tasks. No Python runs after
    the candidate stage.
    """
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    )
    in_bbox = (
        (F.col("p_lat") >= F.col("_lat_min"))
        & (F.col("p_lat") <= F.col("_lat_max"))
        & (F.col("p_lon") >= F.col("_lon_min"))
        & (F.col("p_lon") <= F.col("_lon_max"))
    )
    cover_ddl = (
        f"{poly_id} BIGINT, _cell BIGINT, _lat_min DOUBLE, "
        "_lat_max DOUBLE, _lon_min DOUBLE, _lon_max DOUBLE"
    )

    def gen_cover(batches):
        empty = pd.DataFrame(
            columns=[
                poly_id, "_cell", "_lat_min", "_lat_max",
                "_lon_min", "_lon_max",
            ]
        )
        for pdf in batches:
            if len(pdf) == 0:
                yield empty
                continue
            rings = []
            bbox = np.empty((len(pdf), 4))
            for n, ring in enumerate(pdf["ring"]):
                ry = np.array([p["lat"] for p in ring])
                rx = np.array([p["lon"] for p in ring])
                rings.append((ry, rx))
                bbox[n] = (ry.min(), ry.max(), rx.min(), rx.max())
            owner, cells = polygon_cover_cells_batch(rings, res)
            pids = pdf[poly_id].to_numpy()
            yield pd.DataFrame(
                {
                    poly_id: pids[owner],
                    "_cell": cells.astype("int64"),
                    "_lat_min": bbox[owner, 0],
                    "_lat_max": bbox[owner, 1],
                    "_lon_min": bbox[owner, 2],
                    "_lon_max": bbox[owner, 3],
                }
            )

    cover = polygons.select(poly_id, "ring").mapInPandas(gen_cover, cover_ddl)
    # shuffle_hash hint (round 6): Catalyst's size estimate for the
    # opaque point-side encode is tiny, so it BROADCAST the POINT
    # side (measured in the w6 bench plan: BuildLeft over 10^6
    # points) — exactly the unbounded-side broadcast this plan
    # documents away. The hint pins the documented shape: both
    # sides shuffled by cell, the bounded cover side built per
    # partition.
    cands = (
        _with_cell(pts, res, "p_lat", "p_lon", "_cell")
        .join(cover.hint("shuffle_hash"), "_cell")
        .filter(in_bbox)
        .select("point_id", "p_lat", "p_lon", poly_id)
    )
    cands = cands.withColumn(
        "_salt", F.pmod(F.xxhash64("point_id"), F.lit(PIP_SALT))
    )
    # ring side of the refine join: one row per (poly, salt), the ONLY
    # ring bytes in the refine, independent of candidate count
    rings = polygons.select(poly_id, "ring").withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(PIP_SALT - 1).cast("long"))
        ),
    )
    return (
        cands.join(rings, [poly_id, "_salt"])
        .filter(_ray_cast_expr(F.col("ring"), F.col("p_lon"), F.col("p_lat")))
        .select("point_id", poly_id)
    )


# --- raster <-> vector (W8) ------------------------------------------------------


def rasterize(points: DataFrame, res: int = 9, value_col: str | None = None) -> DataFrame:
    """Points -> cell grid aggregate (count [+ sum of value_col] +
    centroid). Pure groupBy: map-side partial aggregation applies."""
    df = _with_cell(points, res, "lat", "lon", "h3_cell")
    aggs = [
        F.count("*").alias("n_points"),
        F.avg("lat").alias("centroid_lat"),
        F.avg("lon").alias("centroid_lon"),
    ]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return df.groupBy("h3_cell").agg(*aggs)


def vectorize(cells: DataFrame, cell_col: str = "h3_cell") -> DataFrame:
    """Cell grid -> hex boundary polygons: ARRAY<STRUCT<lon,lat>> (7
    points, closed). Decode + corner offsets, vectorized per batch."""
    from ..functions import h3x

    @F.pandas_udf("array<struct<lon: double, lat: double>>")
    def boundary(cells_s: pd.Series) -> pd.Series:
        arr = cells_s.to_numpy(dtype=np.int64)
        if len(arr) == 0:
            return pd.Series([], dtype=object)
        res = int(h3x.cell_resolution(arr[:1])[0])
        face, a0, b0, _, digits = h3x._unpack(arr)
        a, b = a0.copy(), b0.copy()
        for step in range(res):
            d = digits[step]
            a, b = (
                3 * a - b + h3x._DIGITS[d, 0],
                a + 2 * b + h3x._DIGITS[d, 1],
            )
        center = (a + b * h3x._OMEGA) * h3x.BASE_SCALE / (h3x._APERTURE**res)
        # hex corners: center +- rotated unit/sqrt(3) offsets
        scale = h3x.BASE_SCALE / abs(h3x._APERTURE) ** res / np.sqrt(3.0)
        # res-r lattice basis is b0/(3+omega)^r: rotated by -r*arg(3+omega)
        rot = -np.angle(h3x._APERTURE**res)
        corners = [
            center + scale * np.exp(1j * (rot + np.pi / 6 + kk * np.pi / 3))
            for kk in range(6)
        ]
        out = []
        for i in range(len(arr)):
            pts = []
            for kk in range(6):
                la, lo = h3x._unproject(face[i : i + 1], corners[kk][i : i + 1])
                pts.append({"lon": float(lo[0]), "lat": float(la[0])})
            pts.append(pts[0])
            out.append(pts)
        return pd.Series(out)

    return cells.withColumn("boundary", boundary(F.col(cell_col)))
