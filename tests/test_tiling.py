"""H3X / S2X encoder property tests (FIXTURES.md §6) + Spark tiling UDFs."""

import math

import numpy as np
import pytest

from osmptparser_spark.functions import h3x, s2x

RNG = np.random.default_rng(42)
LAT = RNG.uniform(-89.9, 89.9, 20000)
LON = RNG.uniform(-180.0, 180.0, 20000)


class TestS2X:
    @pytest.mark.parametrize("level", [2, 8, 16, 24, 30])
    def test_round_trip_exact(self, level):
        ids = s2x.cell_id(LAT, LON, level)
        la, lo = s2x.cell_to_latlng(ids)
        assert (s2x.cell_id(la, lo, level) == ids).all()

    @pytest.mark.parametrize("level", [2, 8, 16])
    def test_hierarchy_exact(self, level):
        coarse = s2x.cell_id(LAT, LON, level)
        fine = s2x.cell_id(LAT, LON, level + 6)
        assert (s2x.parent(fine, level) == coarse).all()
        assert s2x.contains(coarse, fine).all()
        assert (s2x.cell_level(coarse) == level).all()

    def test_locality_hilbert(self):
        # nearby points share long id prefixes: two points ~100m apart
        a = s2x.cell_id(np.array([-2.15]), np.array([-79.93]), 30)[0]
        b = s2x.cell_id(np.array([-2.151]), np.array([-79.93]), 30)[0]
        far = s2x.cell_id(np.array([48.85]), np.array([2.35]), 30)[0]
        assert abs(int(a) - int(b)) < abs(int(a) - int(far))

    def test_determinism(self):
        assert (s2x.cell_id(LAT, LON, 16) == s2x.cell_id(LAT, LON, 16)).all()


class TestH3X:
    @pytest.mark.parametrize("res", [0, 7, 9, 11])
    def test_round_trip(self, res):
        cells = h3x.latlng_to_cell(LAT, LON, res)
        la, lo = h3x.cell_to_latlng(cells)
        again = h3x.latlng_to_cell(la, lo, res)
        # face-overlap at Voronoi boundaries allows rare flips (no
        # pentagon special-casing, documented divergence from h3)
        assert (again == cells).mean() > 0.985

    @pytest.mark.parametrize("res", [2, 7, 9])
    def test_parent_is_digit_truncation(self, res):
        child = h3x.latlng_to_cell(LAT, LON, res + 2)
        par = h3x.cell_to_parent(child, res)
        assert (h3x.cell_resolution(par) == res).all()
        # re-parenting is idempotent and nested
        assert (h3x.cell_to_parent(par, res) == par).all()
        mid = h3x.cell_to_parent(child, res + 1)
        assert (h3x.cell_to_parent(mid, res) == par).all()

    @pytest.mark.parametrize("res", [7, 9])
    def test_geo_containment_statistical(self, res):
        coarse = h3x.latlng_to_cell(LAT, LON, res)
        fine = h3x.latlng_to_cell(LAT, LON, res + 1)
        frac = (h3x.cell_to_parent(fine, res) == coarse).mean()
        assert frac > 0.90  # boundary rounding, same caveat as real H3

    def test_cell_sizes_h3_calibrated(self):
        # res 9 pitch ~ 350 m (H3 res9 hex edge ~174 m)
        c = h3x.latlng_to_cell(np.array([-2.15]), np.array([-79.93]), 9)
        ring = h3x.k_ring(int(c[0]), 1)
        la0, lo0 = h3x.cell_to_latlng(c)
        la, lo = h3x.cell_to_latlng(ring)
        dists = [
            math.hypot(
                (a - la0[0]) * 111194.9,
                (b - lo0[0]) * 111194.9 * math.cos(math.radians(a)),
            )
            for a, b in zip(la, lo)
            if (a, b) != (la0[0], lo0[0])
        ]
        assert 200 < min(d for d in dists if d > 0) < 500

    def test_k_ring_counts_and_symmetry(self):
        c = int(h3x.latlng_to_cell(np.array([-1.0]), np.array([-79.0]), 8)[0])
        r1 = h3x.k_ring(c, 1)
        r2 = h3x.k_ring(c, 2)
        assert len(r1) == 7 and len(np.unique(r1)) == 7
        assert len(r2) == 19 and len(np.unique(r2)) == 19
        assert c in r1.tolist()
        for b in r1.tolist():
            assert c in h3x.k_ring(int(b), 1).tolist()

    def test_ids_positive_and_res_encoded(self):
        for res in [0, 5, 15]:
            cells = h3x.latlng_to_cell(LAT[:100], LON[:100], res)
            assert (cells > 0).all()
            assert (h3x.cell_resolution(cells) == res).all()


class TestSparkTiling:
    def test_with_cells_and_tiles(self, spark):
        from osmptparser_spark.functions.tiling import with_cells

        pts = spark.createDataFrame(
            [(i, -2.0 + i * 0.001, -79.5 + i * 0.001) for i in range(100)],
            "id BIGINT, lat DOUBLE, lon DOUBLE",
        )
        df = with_cells(pts, h3_res=9, s2_level=16)
        rows = df.collect()
        import numpy as np

        lats = np.array([r.lat for r in rows])
        lons = np.array([r.lon for r in rows])
        assert [r.h3_cell for r in rows] == h3x.latlng_to_cell(lats, lons, 9).tolist()
        assert [r.s2_cell for r in rows] == s2x.cell_id(lats, lons, 16).tolist()

    def test_k_ring_udf(self, spark):
        from osmptparser_spark.functions.tiling import h3_encode_udf, k_ring_udf
        from pyspark.sql import functions as F

        pts = spark.createDataFrame(
            [(1, -2.0, -79.5)], "id BIGINT, lat DOUBLE, lon DOUBLE"
        )
        df = pts.withColumn("cell", h3_encode_udf(9)(F.col("lat"), F.col("lon")))
        df = df.withColumn("ring", k_ring_udf(1)(F.col("cell")))
        row = df.collect()[0]
        assert len(row.ring) == 7 and row.cell in row.ring
