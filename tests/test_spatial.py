"""Spatial operators (W5-W8): face-edge distances and multi-face
encodes, kNN vs brute-force golden (including each escalation level and
face-boundary queries), within-distance join vs
numpy oracle, salted join vs a driver-side cell-equality reference on a
skewed fixture, point-in-polygon vs numpy ray-cast oracle (including
hot-polygon salting, the refine's plan and ring edge cases),
raster/vector round trip."""

import re

import numpy as np
import pytest

from pyspark.sql import functions as F

from osmptparser_spark.functions import h3x
from osmptparser_spark.functions.geo import haversine_np
from osmptparser_spark.operators import spatial as sp
from tests.ray_cast_oracle import ray_cast

RNG = np.random.default_rng(99)
# Ecuador-ish bbox (fixture region, within one icosahedron face)
Q_LAT = RNG.uniform(-2.2, -0.2, 300)
Q_LON = RNG.uniform(-79.9, -78.6, 300)
S_LAT = RNG.uniform(-2.2, -0.2, 200)
S_LON = RNG.uniform(-79.9, -78.6, 200)


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(Q_LAT, Q_LON))],
        "id BIGINT, lat DOUBLE, lon DOUBLE",
    )


@pytest.fixture(scope="module")
def stops_df(spark):
    return spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(S_LAT, S_LON))],
        "id BIGINT, lat DOUBLE, lon DOUBLE",
    )


def _edge_lat(lon: float) -> float:
    """Latitude near ``lon`` where a face Voronoi boundary runs."""
    la = np.linspace(-40.0, 40.0, 4001)
    d = h3x.face_edge_distance_m(la, np.full_like(la, lon))
    return float(la[int(np.argmin(d))])


_PLAN_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\) )?(\w+)")
_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_RING_DDL = "poly_id BIGINT, ring ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>"


def _final_plan(df) -> str:
    """``df``'s executed plan; once ``df`` has run, AQE's final plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return text.split("== Initial Plan ==")[0]


def _plan_nodes(df) -> list:
    """Node names of ``_final_plan(df)``, top-down."""
    lines = _final_plan(df).splitlines()
    return [m.group(1) for line in lines if (m := _PLAN_NODE.match(line))]


def test_face_edge_distance_properties():
    lat = np.linspace(-80, 80, 500)
    lon = np.linspace(-170, 170, 500)
    d = h3x.face_edge_distance_m(lat, lon)
    assert (d >= 0).all() and np.isfinite(d).all()
    # near-edge points report small distances
    el = _edge_lat(18.0)
    assert h3x.face_edge_distance_m([el], [18.0])[0] < 5_000


def test_multiface_covers_cross_face_neighbors():
    el = _edge_lat(18.0)
    # a point just on one side of the edge must ALSO encode onto the
    # face across it when the pad spans the boundary
    idx, cells = h3x.latlng_to_cells_multiface([el + 0.01], [18.0], 7, 5000.0)
    bases = set((np.asarray(cells, dtype=np.int64) >> 45) & 0x3FF)
    faces = {int(b) // 49 for b in bases}
    assert len(faces) >= 2, f"expected multi-face encodes, got faces {faces}"
    # far from any edge: exactly one encode
    idx1, cells1 = h3x.latlng_to_cells_multiface([10.0], [5.0], 7, 5000.0)
    assert len(cells1) == 1


def brute_knn(k=3):
    d = haversine_np(Q_LAT[:, None], Q_LON[:, None], S_LAT[None, :], S_LON[None, :])
    golden = {}
    for qi in range(len(Q_LAT)):
        order = np.lexsort((np.arange(len(S_LAT)), d[qi]))
        golden[qi] = [int(s) for s in order[:k]]
    return golden


class TestKnn:
    def test_knn_matches_brute_force(self, queries_df, stops_df):
        golden = brute_knn(3)
        got = {}
        res = sp.knn_join(queries_df, stops_df, k=3, res=8, ring=2).collect()
        for r in res:
            got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
        got = {q: [c for _, c in sorted(v)] for q, v in got.items()}
        assert set(got) == set(golden)
        mismatches = sum(1 for q in golden if got[q] != golden[q])
        # exact thanks to the fallback rescue whenever rings are sparse;
        # ring-2 at res 8 covers ~15km, far beyond typical NN distances here
        assert mismatches == 0, f"{mismatches} queries differ"

    def test_knn_no_fallback_still_mostly_exact(self, queries_df, stops_df):
        golden = brute_knn(3)
        # ring must cover typical 3rd-NN distances (~10 km here):
        # res 5 pitch ~17 km, ring 2 ~34 km
        res = sp.knn_join(
            queries_df, stops_df, k=3, res=5, ring=2, exact_fallback=False
        ).collect()
        got = {}
        for r in res:
            got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
        got = {q: [c for _, c in sorted(v)] for q, v in got.items()}
        ok = sum(1 for q in golden if got.get(q) == golden[q])
        assert ok / len(golden) > 0.9


class TestKnnRescue:
    def test_sparse_candidates_exact_and_no_candidate_broadcast(self, spark):
        # 40 queries scattered over ~2000 km, only 6 candidates: every
        # escalation level (incl. the face-safe covering sweep) runs,
        # most queries hit the brute pass — results must equal numpy
        # brute force, and NO BroadcastExchange may carry the candidate
        # table (the round-2 rescue broadcast all candidates).
        rng = np.random.default_rng(3)
        qlat = rng.uniform(-10, 10, 40)
        qlon = rng.uniform(-70, -50, 40)
        clat = rng.uniform(-10, 10, 6)
        clon = rng.uniform(-70, -50, 6)
        q_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(qlat, qlon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        c_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(clat, clon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        out = sp.knn_join(q_df, c_df, k=3, res=8, ring=2)
        plan = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        import re

        for m in re.finditer(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[[^\]]*\])", plan):
            assert "c_lat" not in m.group(1), m.group(1)
        golden = {}
        d = haversine_np(qlat[:, None], qlon[:, None], clat[None, :], clon[None, :])
        for qi in range(len(qlat)):
            order = np.lexsort((np.arange(len(clat)), d[qi]))
            golden[qi] = [int(s) for s in order[:3]]
        got = {}
        for r in out.collect():
            got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
        got = {q: [c for _, c in sorted(v)] for q, v in got.items()}
        assert got == golden

    def test_covering_sweep_resolves_before_brute_pass(self, spark, monkeypatch):
        # query 0's k=2 neighbours lie beyond level 2's guaranteed radius
        # (ring_guaranteed_m(2*ring, res-1) ~2.8 km) but within the
        # covering sweep's r3 (4x that): the sweep, not the brute pass,
        # must resolve it. Query 1 sits in a dense cluster (level 1);
        # query 2 is ~2,000 km from every candidate (brute pass); query
        # 3's neighbours lie beyond level 1's guaranteed radius but
        # within level 2's, so level 2 resolves it before the sweep.
        k, res, ring = 2, 8, 1
        g1 = h3x.ring_guaranteed_m(ring, res)
        g2 = h3x.ring_guaranteed_m(2 * ring, res - 1)
        qlat = np.array([-1.2, -1.5, 5.0, -0.8])
        qlon = np.array([-79.0, -79.3, -62.0, -78.8])
        clat = np.array([
            -1.2 + 0.06, -1.2, -1.2 - 0.08, -1.5004, -1.4990, -1.5008,
            -0.8 + 0.0135, -0.8,
        ])
        clon = np.array([
            -79.0, -79.0 + 0.07, -79.0, -79.3, -79.3006, -79.3009,
            -78.8, -78.8 + 0.018,
        ])
        d = haversine_np(qlat[:, None], qlon[:, None], clat[None, :], clon[None, :])
        assert (d[0] > g2).all() and np.sort(d[0])[k - 1] < 4.0 * g2
        assert g1 < np.sort(d[3])[k - 1] < g2
        q_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(qlat, qlon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        c_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(clat, clon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        brute_inputs = []
        brute_knn = sp._brute_knn

        def spy(short, *args, **kwargs):
            brute_inputs.append(short)
            return brute_knn(short, *args, **kwargs)

        sweep_inputs = []
        sweep = sp.within_distance_join

        def sweep_spy(points, *args, **kwargs):
            sweep_inputs.append(points)
            return sweep(points, *args, **kwargs)

        monkeypatch.setattr(sp, "_brute_knn", spy)
        monkeypatch.setattr(sp, "within_distance_join", sweep_spy)
        out = sp.knn_join(q_df, c_df, k=k, res=res, ring=ring)
        (short,) = brute_inputs
        assert {r.query_id for r in short.collect()} == {2}
        (swept,) = sweep_inputs
        assert {r.query_id for r in swept.collect()} == {0, 2}
        got = {}
        for r in out.collect():
            got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
        got = {q: [c for _, c in sorted(v)] for q, v in got.items()}
        want = {
            qi: [int(j) for j in np.lexsort((np.arange(len(clat)), d[qi]))[:k]]
            for qi in range(len(qlat))
        }
        assert got == want

    def test_brute_pass_byte_guard(self, spark, monkeypatch):
        # 30 queries scattered over the globe, 2 candidates: queries
        # reach the brute pass, whose broadcast of the pending set is
        # refused once it exceeds the byte budget.
        rng = np.random.default_rng(4)
        q_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(
                zip(rng.uniform(-40, 40, 30), rng.uniform(-170, 170, 30)))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        c_df = spark.createDataFrame(
            [(0, 0.0, 0.0), (1, 0.1, 0.1)], "id BIGINT, lat DOUBLE, lon DOUBLE"
        )
        monkeypatch.setattr(sp, "_BRUTE_BROADCAST_MAX_BYTES", 0)
        with pytest.raises(ValueError, match="brute-force pass would broadcast"):
            sp.knn_join(q_df, c_df, k=2, res=8, ring=1)

    def test_level_one_resolution_skips_later_levels(self, spark, monkeypatch):
        # a dense 20x20 grid (~220 m pitch): every query's 3 nearest
        # candidates lie well within level 1's guaranteed radius, so the
        # cascade stops after level 1: no covering sweep, no brute pass.
        g = 0.002 * np.arange(20)
        clat = np.repeat(-1.0 + g, 20)
        clon = np.tile(-79.0 + g, 20)
        rng = np.random.default_rng(6)
        qlat = rng.uniform(-0.99, -0.97, 50)
        qlon = rng.uniform(-78.99, -78.97, 50)
        q_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(qlat, qlon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        c_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(clat, clon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        called = []
        sweep, brute = sp.within_distance_join, sp._brute_knn

        def sweep_spy(*args, **kwargs):
            called.append("within_distance_join")
            return sweep(*args, **kwargs)

        def brute_spy(*args, **kwargs):
            called.append("_brute_knn")
            return brute(*args, **kwargs)

        monkeypatch.setattr(sp, "within_distance_join", sweep_spy)
        monkeypatch.setattr(sp, "_brute_knn", brute_spy)
        sc = spark.sparkContext
        group = "test-knn-level-one"
        sc.setJobGroup(group, group)
        try:
            rows = sp.knn_join(q_df, c_df, k=3, res=8, ring=2).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert called == []
        # the query set, the level-1 top-k and the pending split take a
        # few AQE stages each, plus one emptiness check and the collect
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 16
        d = haversine_np(qlat[:, None], qlon[:, None], clat[None, :], clon[None, :])
        got = {}
        for r in rows:
            got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
        got = {q: [c for _, c in sorted(v)] for q, v in got.items()}
        want = {
            qi: [int(j) for j in np.lexsort((np.arange(len(clat)), d[qi]))[:3]]
            for qi in range(len(qlat))
        }
        assert got == want


class TestCrossFaceJoins:
    @pytest.fixture(scope="class")
    def straddle(self, spark):
        """Queries and candidates straddling a face boundary."""
        el = _edge_lat(18.0)
        rng = np.random.default_rng(7)
        q_lat = el + rng.uniform(-0.05, 0.05, 40)
        q_lon = 18.0 + rng.uniform(-0.05, 0.05, 40)
        c_lat = el + rng.uniform(-0.08, 0.08, 200)
        c_lon = 18.0 + rng.uniform(-0.08, 0.08, 200)
        q = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(q_lat, q_lon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        c = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(c_lat, c_lon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        return (q_lat, q_lon, c_lat, c_lon, q, c)

    def test_knn_exact_across_face_edge(self, spark, straddle):
        q_lat, q_lon, c_lat, c_lon, q, c = straddle
        got = {}
        for r in sp.knn_join(q, c, k=3, res=8, ring=1).collect():
            got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
        D = haversine_np(
            q_lat[:, None], q_lon[:, None], c_lat[None, :], c_lon[None, :]
        )
        for qi in range(len(q_lat)):
            order = np.lexsort((np.arange(len(c_lat)), D[qi]))
            want = [int(j) for j in order[:3]]
            have = [cid for _, cid in sorted(got[qi])]
            assert have == want, f"query {qi}: {have} != {want}"

    def test_within_distance_exact_across_face_edge(self, spark, straddle):
        q_lat, q_lon, c_lat, c_lon, q, c = straddle
        radius = 3000.0
        got = {
            (r.point_id, r.stop_id)
            for r in sp.within_distance_join(q, c, radius_m=radius, res=8).collect()
        }
        D = haversine_np(
            q_lat[:, None], q_lon[:, None], c_lat[None, :], c_lon[None, :]
        )
        want = {(int(i), int(j)) for i, j in zip(*np.nonzero(D <= radius))}
        assert got == want


class TestWithinDistance:
    def test_matches_numpy_oracle(self, queries_df, stops_df):
        radius = 2000.0
        d = haversine_np(
            Q_LAT[:, None], Q_LON[:, None], S_LAT[None, :], S_LON[None, :]
        )
        want = {(int(q), int(s)) for q, s in zip(*np.where(d <= radius))}
        # the ring is the guaranteed coverage for the radius
        got8 = {
            (r.point_id, r.stop_id)
            for r in sp.within_distance_join(
                queries_df, stops_df, radius, res=8
            ).collect()
        }
        assert got8 == want


@pytest.fixture(scope="module")
def squares_df(spark):
    polys = []
    for pid in range(60):
        cx, cy = -79.5 + 0.01 * pid, -1.5 + 0.005 * pid
        ring = [
            {"lon": cx, "lat": cy},
            {"lon": cx + 0.1, "lat": cy},
            {"lon": cx + 0.1, "lat": cy + 0.1},
            {"lon": cx, "lat": cy + 0.1},
            {"lon": cx, "lat": cy},
        ]
        polys.append((pid, ring))
    return spark.createDataFrame(polys, _RING_DDL)


class TestPointInPolygon:
    def test_cells_strategy_no_broadcast_nested_loop(self, queries_df, squares_df):
        # the scale contract: candidate generation is an equi-join on
        # cell, never a BroadcastNestedLoopJoin over the point table —
        # with a LARGE polygon table a broadcast range join is a
        # scale-killer; the plan must not contain one.
        out = sp.point_in_polygon_join(queries_df, squares_df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan

    def test_refine_runs_in_the_jvm(self, queries_df, squares_df):
        # the ray cast is a Catalyst expression: no pandas cogroup, and
        # the only Python stages are the point-side cell encode and the
        # polygon cover
        out = sp.point_in_polygon_join(queries_df, squares_df)
        assert out.collect()
        nodes = _plan_nodes(out)
        assert "FlatMapCoGroupsInPandas" not in nodes
        assert sorted(n for n in nodes if _PY_NODE.search(n)) == [
            "ArrowEvalPython", "MapInPandas",
        ]

    def test_ring_edge_cases_match_ray_cast_oracle(self, spark):
        # under ANSI SQL a division by zero raises instead of returning
        # null: the horizontal and zero-length edges below would raise
        # DIVIDE_BY_ZERO if the refine divided outside its crossing test
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        rings = {  # (lon, lat) vertices on the 1/20 grid
            # staircase: horizontal edges, vertical edges at lon 0, .2, .4
            1: [(0.0, 0.0), (0.4, 0.0), (0.4, 0.2), (0.2, 0.2), (0.2, 0.4),
                (0.0, 0.4), (0.0, 0.0)],
            # degenerate closed rings: 2 and 3 points, no interior
            2: [(0.6, 0.1), (0.6, 0.1)],
            3: [(0.6, 0.2), (0.9, 0.2), (0.6, 0.2)],
            4: [(0.6, 0.3), (0.9, 0.5), (0.6, 0.3)],
        }
        polys_df = spark.createDataFrame(
            [(pid, [{"lon": x, "lat": y} for x, y in r]) for pid, r in rings.items()],
            _RING_DDL,
        )
        # every grid point: vertex latitudes, points on every edge
        grid = [k / 20 for k in range(-1, 21)]
        plat = np.array([la for la in grid for _ in grid])
        plon = np.array([lo for _ in grid for lo in grid])
        pts_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(plat, plon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        want = set()
        for pid, r in rings.items():
            rx = np.array([x for x, _ in r])
            ry = np.array([y for _, y in r])
            want |= {(int(i), pid) for i in np.where(ray_cast(plon, plat, rx, ry))[0]}
        got = {
            (r.point_id, r.poly_id)
            for r in sp.point_in_polygon_join(pts_df, polys_df).collect()
        }
        assert got == want
        assert {pid for _, pid in got} == {1}
        # boundary points the oracle counts in: on the left vertical
        # edge, and at a vertex latitude
        on_edge = {(i, 1) for i in np.where((plon == 0.0) & (plat == 0.1))[0]}
        at_vertex = {(i, 1) for i in np.where((plon == 0.1) & (plat == 0.2))[0]}
        assert on_edge <= got and at_vertex <= got

    def test_cells_strategy_covers_face_boundary_polygon(self, spark):
        # polygon straddling an icosahedron face edge ((8.37, -156.79)
        # is ~330 m from a boundary): the cover must include home cells
        # on BOTH faces, so points across the edge still candidate-join
        cx, cy = -156.78861418, 8.36629774
        n = 24
        angles = np.linspace(0, 2 * np.pi, n, endpoint=False)
        ring = [
            {"lon": float(cx + 0.3 * np.cos(a)), "lat": float(cy + 0.3 * np.sin(a))}
            for a in angles
        ]
        ring.append(ring[0])
        polys_df = spark.createDataFrame(
            [(1, ring)], "poly_id BIGINT, ring ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>"
        )
        rng = np.random.default_rng(5)
        plat = rng.uniform(cy - 0.5, cy + 0.5, 400)
        plon = rng.uniform(cx - 0.5, cx + 0.5, 400)
        pts_df = spark.createDataFrame(
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(plat, plon))],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        rx = np.array([p["lon"] for p in ring])
        ry = np.array([p["lat"] for p in ring])
        want = {(int(i), 1) for i in np.where(ray_cast(plon, plat, rx, ry))[0]}
        got = {
            (r.point_id, r.poly_id)
            for r in sp.point_in_polygon_join(pts_df, polys_df, res=7).collect()
        }
        assert got == want
        assert len(want) > 50

    def test_cover_cells_res_guard(self):
        from osmptparser_spark.functions.tiling import polygon_cover_cells

        # continent-sized bbox at res 9 must refuse, not explode
        with pytest.raises(ValueError, match="coarser res"):
            polygon_cover_cells(
                np.array([0.0, 40.0]), np.array([0.0, 40.0]), 9,
                max_cover_cells=10_000,
            )

    def test_matches_ray_cast_oracle(self, spark, queries_df):
        # seeded polygons over the bbox (convex-ish stars around centers)
        polys = []
        for pid in range(10):
            cx = RNG.uniform(-79.8, -78.7)
            cy = RNG.uniform(-2.1, -0.3)
            n = int(RNG.integers(8, 20))
            angles = np.sort(RNG.uniform(0, 2 * np.pi, n))
            radii = RNG.uniform(0.05, 0.25, n)
            ring = [
                {"lon": float(cx + r * np.cos(a)), "lat": float(cy + r * np.sin(a))}
                for a, r in zip(angles, radii)
            ]
            ring.append(ring[0])
            polys.append((pid, ring))
        polys_df = spark.createDataFrame(
            polys, "poly_id BIGINT, ring ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>"
        )
        want = set()
        for pid, ring in polys:
            rx = np.array([p["lon"] for p in ring])
            ry = np.array([p["lat"] for p in ring])
            inside = ray_cast(Q_LON, Q_LAT, rx, ry)
            want |= {(int(i), pid) for i in np.where(inside)[0]}
        got = {
            (r.point_id, r.poly_id)
            for r in sp.point_in_polygon_join(queries_df, polys_df).collect()
        }
        assert got == want
        assert len(want) > 0


class TestPipSkew:
    def test_hot_polygon_splits_and_stays_correct(self, spark):
        n = 20_000
        # half-step offset: no point ever lies exactly on a ring edge
        pts = spark.range(n).select(
            F.col("id"),
            ((F.pmod(F.col("id") * 37, F.lit(1000)) * 2 + 1) / 1000.0 - 1.0).alias("lat"),
            ((F.pmod(F.col("id") * 13, F.lit(1000)) * 2 + 1) / 1000.0 - 1.0).alias("lon"),
        )
        ring = [(-0.75, -0.75), (-0.75, 0.75), (0.75, 0.75), (0.75, -0.75), (-0.75, -0.75)]
        polys = spark.createDataFrame(
            [(1, [{"lon": lo, "lat": la} for la, lo in ring])],
            "poly_id BIGINT, ring ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>",
        )
        out = sp.point_in_polygon_join(pts, polys)
        rows = out.collect()
        # oracle: interior of the square
        pdf = pts.toPandas()
        inside = (
            (pdf["lat"] > -0.75) & (pdf["lat"] < 0.75)
            & (pdf["lon"] > -0.75) & (pdf["lon"] < 0.75)
        )
        assert {r.point_id for r in rows} == set(pdf.loc[inside, "id"])
        # the refine join is keyed on (poly, salt), so the hot polygon's
        # candidates split over PIP_SALT join keys
        key = r"\[poly_id#\d+L, _salt#\d+L\]"
        assert re.search(rf"Join {key}, {key}, Inner", _final_plan(out))


class TestRasterVector:
    def test_rasterize_counts(self, spark, queries_df):
        grid = sp.rasterize(queries_df, res=7)
        rows = grid.collect()
        assert sum(r.n_points for r in rows) == 300
        assert all(r.n_points > 0 for r in rows)

    def test_vectorize_boundary_contains_centroid(self, spark, queries_df):
        grid = sp.rasterize(queries_df, res=7)
        hexes = sp.vectorize(grid).collect()
        for r in hexes[:20]:
            rx = np.array([p["lon"] for p in r.boundary])
            ry = np.array([p["lat"] for p in r.boundary])
            assert len(r.boundary) == 7
            inside = ray_cast(
                np.array([r.centroid_lon]), np.array([r.centroid_lat]), rx, ry
            )
            assert inside[0]
