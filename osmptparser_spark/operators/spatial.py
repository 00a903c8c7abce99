"""Spatial join operators (W6/W7/W8): within-distance joins, kNN,
point-in-polygon, raster<->vector.

Strategy at 100 TB: every spatial predicate is reduced to an equi-join
on H3X cell ids (candidate generation), then refined with an exact
JVM-side haversine / a vectorized ray-cast. Each join has one plan;
the point-in-polygon refine is salted so a hot polygon's candidates
spread over several tasks; AQE skew-join splitting absorbs moderate
cell skew in the candidate joins.
"""

from __future__ import annotations

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


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    res: int = 8,
    ring: int = 2,
    query_id: str = "id",
    cand_id: str = "id",
    exact_fallback: bool = True,
    rescue_max_queries: int | None = None,
) -> DataFrame:
    """W7: k nearest candidates per query.

    Scale path: k-ring candidate generation -> cell equi-join -> exact
    haversine -> row_number window top-k. Queries whose result is not
    provably complete escalate through progressively wider CELL joins
    (never all-pairs): (2) a 2x ring at res-1, (3) ``within_distance_join``
    at res-2 over a ~4x radius (face-safe multiface cover). Only the
    remainder of THAT — queries with fewer than k candidates inside a
    multi-hundred-km disk, structurally rare at any density — hits the
    brute-force pass, and the brute pass broadcasts the PENDING QUERY
    side (bounded by the rescue remainder), never the candidate table,
    with a per-partition partial top-k so the shuffle carries at most
    k rows per (query, partition). Set ``rescue_max_queries`` to
    assert the remainder is small before the brute pass runs (adds one
    count job), or exact_fallback=False to skip rescue entirely.
    """
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
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m"), F.col("cand_id"))
    topk = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "dist_m", "rank")
    )
    if not exact_fallback:
        return topk
    # EXACTNESS GUARANTEE: a query's ring result is provably the true
    # top-k iff it found >= k candidates AND its k-th distance lies
    # within the ring's guaranteed coverage radius AND within the
    # query's distance to its face's Voronoi boundary (k-rings never
    # cross icosahedron faces, so past that distance a true neighbor
    # could live on the adjacent face unseen — the round-1 check was
    # intra-face-only). Everything else escalates: first a 2x ring at
    # the coarser res (still a cell join — at web scale sparse regions
    # and face-edge queries are rare), then the covering sweep, then
    # brute force.
    from ..functions.h3x import ring_guaranteed_m

    q_edge = queries.select(
        F.col(query_id).alias("query_id"),
        face_edge_m_udf()(F.col("lat"), F.col("lon")).alias("_edge_m"),
    )

    def _complete(tk: DataFrame, guaranteed: float) -> DataFrame:
        return (
            tk.groupBy("query_id")
            .agg(F.count("*").alias("_n"), F.max("dist_m").alias("_d"))
            .join(q_edge, "query_id")
            .filter(
                (F.col("_n") >= k)
                & (F.col("_d") <= F.least(F.lit(guaranteed), F.col("_edge_m")))
            )
            .select("query_id")
        )

    done1 = _complete(topk, ring_guaranteed_m(ring, res))
    pending1 = queries.select(
        F.col(query_id).alias("query_id"), "lat", "lon"
    ).join(done1, "query_id", "left_anti")
    wide = knn_join(
        pending1,
        candidates,
        k=k,
        res=max(res - 1, 0),
        ring=ring * 2,
        query_id="query_id",
        cand_id=cand_id,
        exact_fallback=False,
    )
    done2 = _complete(wide, ring_guaranteed_m(ring * 2, max(res - 1, 0)))
    pending2 = pending1.join(done2, "query_id", "left_anti")

    # Third escalation: face-safe multiface covering sweep — the
    # within-distance join at a coarser res over a ~4x radius. Because
    # the cover crosses icosahedron faces (unlike k-rings), completeness
    # needs NO face-edge cap: every candidate within r3 provably
    # appears, so >= k of them means the top k are the exact top k.
    r3 = 4.0 * ring_guaranteed_m(ring * 2, max(res - 1, 0))
    topk3 = (
        within_distance_join(
            pending2, candidates, r3, max(res - 2, 0),
            point_id="query_id", stop_id=cand_id,
        )
        .select(
            F.col("point_id").alias("query_id"),
            F.col("stop_id").alias("cand_id"),
            "dist_m",
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    done3 = (
        topk3.groupBy("query_id")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= k)
        .select("query_id")
    )
    short = (
        pending2.join(done3, "query_id", "left_anti")
        .select(
            "query_id",
            F.col("lat").alias("q_lat"),
            F.col("lon").alias("q_lon"),
        )
    )
    if rescue_max_queries is not None:
        n_short = short.count()
        if n_short > rescue_max_queries:
            raise ValueError(
                f"kNN brute-force rescue remainder has {n_short} queries "
                f"(> rescue_max_queries={rescue_max_queries}); widen "
                "ring/res or pass exact_fallback=False"
            )
    brute = _brute_knn(short, candidates, k, cand_id)
    return (
        topk.join(done1, "query_id", "left_semi")
        .unionByName(wide.join(done2, "query_id", "left_semi"))
        .unionByName(topk3.join(done3, "query_id", "left_semi"))
        .unionByName(brute)
    )


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


def _ray_cast(px, py, ring_x, ring_y):
    """Vectorized even-odd ray casting: points (n,) vs one ring (m,)."""
    inside = np.zeros(len(px), dtype=bool)
    x1, y1 = ring_x[:-1], ring_y[:-1]
    x2, y2 = ring_x[1:], ring_y[1:]
    for xa, ya, xb, yb in zip(x1, y1, x2, y2):
        cond = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xb - xa) * (py - ya) / (yb - ya) + xa
        inside ^= cond & (px < xint)
    return inside


#: (poly, salt) refine groups per polygon (see point_in_polygon_join).
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

    Refine: numpy ray casting over (poly, salt) COGROUPS: the candidate
    side shuffles bare (point, poly, salt) rows — never the ring — and
    each group receives its ring exactly once from a tiny
    (n_polys x salt)-row side that carries the only ring bytes in the
    whole refine, so ring bytes never scale with the candidate count.
    The ray cast is per-point, so salting is result-neutral — without
    it a country-sized polygon with 10^9 candidate points is ONE
    straggler task holding one pandas frame; with it the hot polygon
    spreads over ``PIP_SALT`` tasks.
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
    # ring side of the cogroup: one row per (poly, salt) — the ONLY
    # ring bytes in the refine, independent of candidate count. Columns
    # renamed (fresh attributes): both cogroup sides descend from
    # ``polygons`` and identical expression ids would trip the
    # ambiguous-self-join analyzer check.
    rings = polygons.select(
        F.col(poly_id).alias("_r_poly"), F.col("ring").alias("_r_ring")
    ).withColumn(
        "_r_salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(PIP_SALT - 1).cast("long"))
        ),
    )

    def refine(cand_pdf: pd.DataFrame, ring_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return pd.DataFrame(
                {
                    "point_id": pd.Series(dtype="int64"),
                    poly_id: pd.Series(dtype="int64"),
                }
            )
        if len(ring_pdf) == 0:  # cover emitted a poly the ring side lacks
            raise ValueError(
                "point_in_polygon_join: candidate group without its ring "
                "(polygons changed between the cover pass and the refine?)"
            )
        ring = ring_pdf["_r_ring"].iloc[0]
        rx = np.array([p["lon"] for p in ring])
        ry = np.array([p["lat"] for p in ring])
        inside = _ray_cast(
            cand_pdf["p_lon"].to_numpy(), cand_pdf["p_lat"].to_numpy(), rx, ry
        )
        return cand_pdf.loc[inside, ["point_id", poly_id]]

    return (
        cands.groupBy(poly_id, "_salt")
        .cogroup(rings.groupBy("_r_poly", "_r_salt"))
        .applyInPandas(refine, f"point_id BIGINT, {poly_id} BIGINT")
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
