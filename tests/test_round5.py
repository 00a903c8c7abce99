"""Round-5 additions: pure-python PNG codec, interval_join tiering +
outlier guard, packing shard-range guard."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# --- PNG codec ---------------------------------------------------------------


class TestPngCodec:
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_roundtrip_every_filter(self, channels, filter_type):
        from osmptparser_spark.functions.png import decode_png, encode_png

        rng = np.random.default_rng(channels * 10 + filter_type)
        img = rng.integers(0, 256, (11, 7, channels), dtype=np.uint8)
        out = decode_png(encode_png(img, filter_type=filter_type))
        assert out.shape == (11, 7, channels)
        np.testing.assert_array_equal(out, img)

    def test_rejects_non_png_and_unsupported(self):
        from osmptparser_spark.functions.png import decode_png

        with pytest.raises(ValueError, match="signature"):
            decode_png(b"\xff\xd8\xff\xe0 not a png")
        # hand-build a 16-bit-depth header: must refuse, not mis-decode
        import struct
        import zlib as _z

        ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", _z.crc32(b"IHDR" + ihdr))
        )
        with pytest.raises(ValueError, match="bit depth"):
            decode_png(b"\x89PNG\r\n\x1a\n" + chunk)

    def test_decode_image_features_on_real_png(self, spark):
        from osmptparser_spark.functions.png import encode_png
        from osmptparser_spark.operators.multimodal import (
            decode_image_features,
            real_decode_stub,
        )
        from osmptparser_spark.session import local_df

        rng = np.random.default_rng(7)
        rows = []
        imgs = {}
        for i in range(6):
            img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
            imgs[i] = img
            rows.append(
                (i, "image", bytearray(encode_png(img, filter_type=i % 5)),
                 (8, 8, 0, 1))
            )
        media = local_df(
            spark, rows,
            "media_id BIGINT, kind STRING, payload BINARY, "
            "meta STRUCT<width: INT, height: INT, sample_rate: INT, n_frames: INT>",
        )
        got = {
            r.media_id: r
            for r in decode_image_features(media, decoder=real_decode_stub).collect()
        }
        assert len(got) == 6
        for i, img in imgs.items():
            gray = img.mean(axis=2).astype(np.float32)
            pooled = gray.reshape(2, 4, 2, 4).mean(axis=(1, 3))
            assert got[i].width == 8 and got[i].height == 8
            np.testing.assert_allclose(
                np.array(got[i].features), pooled.ravel(), rtol=1e-6
            )

    def test_real_stub_rejects_non_png(self):
        from osmptparser_spark.operators.multimodal import real_decode_stub

        with pytest.raises(ValueError, match="PNG"):
            real_decode_stub(b"\xff\xd8\xff\xe0JFIF....")


# --- interval_join tiering + guard -------------------------------------------


class TestIntervalJoinTiers:
    def test_many_long_intervals_stay_equi_join(self, spark):
        from osmptparser_spark.operators.temporal import interval_join

        # EVERY interval spans >max_explode_buckets fine cells: the old
        # design broadcast them all (unbounded); now they land on the
        # coarse grid as a bounded explode and the guard never fires.
        rng = np.random.default_rng(5)
        ivs = []
        for i in range(120):
            s = int(rng.integers(0, 200_000))
            ivs.append((int(i), s, s + int(rng.integers(600, 40_000))))
        pts = [(int(i), int(rng.integers(0, 250_000))) for i in range(500)]
        pdf = spark.createDataFrame(pts, "pid BIGINT, t BIGINT")
        idf = spark.createDataFrame(ivs, "iid BIGINT, t_start BIGINT, t_end BIGINT")
        out = interval_join(
            pdf, idf, bucket_width=1, max_explode_buckets=256,
            max_broadcast_outliers=0,  # ANY broadcast outlier would raise
        )
        got = {(r.pid, r.iid) for r in out.select("pid", "iid").collect()}
        want = {(p, i) for p, t in pts for i, s, e in ivs if s <= t < e}
        assert got == want and len(want) > 50
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan

    def test_guard_fires_on_unbounded_broadcast(self, spark):
        from osmptparser_spark.operators.temporal import interval_join

        # intervals spanning > max_explode_buckets^2 fine cells beyond
        # the cap: raise instead of building an unbounded broadcast
        ivs = [(i, 0, 70_000 + i) for i in range(5)]
        pts = [(1, 10)]
        pdf = spark.createDataFrame(pts, "pid BIGINT, t BIGINT")
        idf = spark.createDataFrame(ivs, "iid BIGINT, t_start BIGINT, t_end BIGINT")
        with pytest.raises(ValueError, match="max_broadcast_outliers"):
            interval_join(
                pdf, idf, bucket_width=1, max_explode_buckets=256,
                max_broadcast_outliers=2,
            )

    def test_huge_interval_under_cap_still_exact(self, spark):
        from osmptparser_spark.operators.temporal import interval_join

        pts = [(1, 5), (2, 1_000_000), (3, 20_000_000), (4, 40_000_000)]
        ivs = [(7, 0, 10), (8, 3, 8), (9, 1, 31_536_000)]
        pdf = spark.createDataFrame(pts, "pid BIGINT, t BIGINT")
        idf = spark.createDataFrame(ivs, "iid BIGINT, t_start BIGINT, t_end BIGINT")
        out = interval_join(pdf, idf, bucket_width=1)
        got = {(r.pid, r.iid) for r in out.select("pid", "iid").collect()}
        assert got == {(1, 7), (1, 8), (1, 9), (2, 9), (3, 9)}


# --- Uber-H3 compatibility adapter ---------------------------------------------


class TestH3Compat:
    def test_bit_layout_roundtrip_and_quickstart_structure(self):
        from osmptparser_spark.functions import h3compat as hc

        # the published quickstart index: latLngToCell(37.775..., -122.418..., 9)
        h = hc.string_to_cell("8928308280fffff")
        base, res, digits = hc.unpack_cell(h)
        assert res == 9 and 0 <= base < 122 and len(digits) == 9
        assert all(0 <= d <= 6 for d in digits)
        assert hc.pack_cell(base, res, digits) == h
        assert hc.is_valid_cell(h)
        # res-5 published example has the same invariants
        h5 = hc.string_to_cell("85283473fffffff")
        b5, r5, d5 = hc.unpack_cell(h5)
        assert r5 == 5 and len(d5) == 5
        # parent truncation is layout-exact: a res-9 cell's res-5 parent
        # keeps base + first 5 digits and pads unused digit slots
        p = hc.cell_to_parent(h, 5)
        bp, rp, dp = hc.unpack_cell(p)
        assert (bp, rp, dp) == (base, 5, digits[:5])
        assert hc.cell_to_string(p).endswith("fffff")

    def test_rejects_malformed(self):
        from osmptparser_spark.functions import h3compat as hc

        with pytest.raises(ValueError, match="mode"):
            hc.unpack_cell(0x2000000000000000)  # mode 2 != cell
        with pytest.raises(ValueError, match="unused"):
            # res 9 but digit 1 marked unused
            hc.unpack_cell(hc.pack_cell(20, 0, []) | (9 << 52))

    def test_digit_rotation_matches_complex_plane(self):
        from osmptparser_spark.functions import h3compat as hc

        rot = np.array([[0.5, -np.sqrt(3) / 2], [np.sqrt(3) / 2, 0.5]])
        for d in range(1, 7):
            xy = hc._ijk_to_hex2d(hc._UNIT_VECS[d].astype(np.int64))
            got = hc._hex2d_to_ijk(rot @ xy)
            assert hc._unit_to_digit(got) == hc._ROT_CCW[d]
            got_cw = hc._hex2d_to_ijk(rot.T @ xy)
            assert hc._unit_to_digit(got_cw) == hc._ROT_CW[d]

    def test_ap7_up_down_inverses(self):
        from osmptparser_spark.functions import h3compat as hc

        rng = np.random.default_rng(3)
        for _ in range(200):
            ijk = hc._normalize(rng.integers(0, 40, 3).astype(np.int64))
            np.testing.assert_array_equal(hc._up_ap7(hc._down_ap7(ijk)), ijk)
            np.testing.assert_array_equal(hc._up_ap7r(hc._down_ap7r(ijk)), ijk)

    def test_hex2d_ijk_roundtrip(self):
        from osmptparser_spark.functions import h3compat as hc

        rng = np.random.default_rng(4)
        for _ in range(200):
            ijk = hc._normalize(rng.integers(-30, 30, 3).astype(np.int64))
            np.testing.assert_array_equal(
                hc._hex2d_to_ijk(hc._ijk_to_hex2d(ijk)), ijk
            )

    def _synthetic_tables(self, tmp_path):
        # one real face at (0,0) with i-axis azimuth 0; the other 19
        # parked at the antipode so face selection always picks face 0
        import json as _json

        t = {
            "face_center_geo": [[0.0, 0.0]] + [[-1.2, 3.0]] * 19,
            "face_axes_az_i": [0.0] * 20,
            "base_cells": [
                {"face": 0, "ijk": [0, 0, 0], "pent": 0, "cw_offset": []}
            ] * 122,
            "face_ijk_base_cells": {
                f"0,{i},{j},{k}": [7 * ((i + 3 * j + 9 * k) % 17 + 1) % 122, 0]
                for i in range(3) for j in range(3) for k in range(3)
            },
        }
        t["face_ijk_base_cells"]["0,0,0,0"] = [7, 0]
        p = tmp_path / "h3_tables.json"
        p.write_text(_json.dumps(t))
        return str(p)

    def test_synthetic_face_encode_pins_class_parity(self, tmp_path):
        """End-to-end encode on a synthetic face, pinning the published
        geometry: Class III grids sit asin(sqrt(3/28)) ccw of their
        Class II parent, so a point at azimuth -alpha and gnomonic
        radius U0*sqrt(7) must land at res-2 digits [I, C] of the home
        base cell. A swapped up/down parity pairing fails this (the
        res-2 peel hits a non-unit digit vector)."""
        from osmptparser_spark.functions import h3compat as hc

        hc.load_tables(self._synthetic_tables(tmp_path))
        try:
            alpha = float(np.arcsin(np.sqrt(3.0 / 28.0)))
            # res 2: fine radius sqrt(7) units -> tan(r) = U0/sqrt(7)
            r = float(np.arctan(hc._RES0_U_GNOMONIC / np.sqrt(7.0)))
            a = -alpha
            lat2 = float(np.degrees(np.arcsin(np.sin(r) * np.cos(a))))
            lon2 = float(np.degrees(np.arctan2(np.sin(a) * np.sin(r), np.cos(r))))
            h = hc.latlng_to_cell(lat2, lon2, 2)
            base, res, digits = hc.unpack_cell(h)
            assert (base, res, digits) == (7, 2, [4, 0])  # [I, CENTER]
            # res 1 (Class III): theta adjustment puts the same azimuth
            # one fine unit out at tan(r) = U0/sqrt(7) -> digit [I]
            h1 = hc.latlng_to_cell(lat2, lon2, 1)
            b1, r1, d1 = hc.unpack_cell(h1)
            assert (b1, r1, d1) == (7, 1, [4])
            # face center encodes to the all-CENTER path at any res
            h0 = hc.latlng_to_cell(0.0, 0.0, 9)
            b0, r0, d0 = hc.unpack_cell(h0)
            assert (b0, r0, d0) == (7, 9, [0] * 9)
        finally:
            hc._tables = None

    def test_tables_missing_is_loud(self):
        from osmptparser_spark.functions import h3compat as hc

        assert hc._tables is None
        if "H3_TABLES_JSON" not in (hc.os.environ or {}):
            with pytest.raises(FileNotFoundError, match="tables"):
                hc.load_tables(None)


# --- H3 table extraction (parser only; no h3 checkout in this sandbox) --------


class TestH3TableExtraction:
    FACEIJK_C = """
    /* icosahedron face centers in lat/lon radians */
    static const LatLng faceCenterGeo[NUM_ICOSA_FACES] = {
        {0.803582649718989942, 1.248397419617396099},  // face 0
    """ + "\n".join(
        "{%d.1, -%d.2}," % (i, i) for i in range(1, 20)
    ) + """
    };
    static const double faceAxesAzRadsCII[NUM_ICOSA_FACES][3] = {
    """ + "\n".join(
        "{%d.01, %d.02, %d.03}, // vertex" % (i, i, i) for i in range(20)
    ) + """
    };
    """

    BASECELLS_C = """
    static const BaseCellData baseCellData[NUM_BASE_CELLS] = {
    """ + "\n".join(
        "{{%d, {1, 0, 0}}, %d, {%d, %d}},  // base cell %d"
        % (c % 20, 1 if c == 4 else 0, -1 if c != 4 else 0,
           -1 if c != 4 else 5, c)
        for c in range(122)
    ) + """
    };
    static const BaseCellRotation faceIjkBaseCells[NUM_ICOSA_FACES][3][3][3] = {
    """ + "\n".join(
        "{%d, %d}," % ((n * 7) % 122, n % 6) for n in range(540)
    ) + """
    };
    """

    def test_parses_synthetic_c_layout(self):
        import sys
        sys.path.insert(0, "/root/repo/tools")
        import extract_h3_tables as x

        centers = x.parse_face_center_geo(self.FACEIJK_C)
        assert len(centers) == 20
        assert centers[0] == [0.803582649718989942, 1.248397419617396099]
        az = x.parse_face_axes_az(self.FACEIJK_C)
        assert az[3] == 3.01  # column 0 only (class II i-axis)
        cells = x.parse_base_cell_data(self.BASECELLS_C)
        assert len(cells) == 122
        assert cells[4]["pent"] == 1 and cells[4]["cw_offset"] == [0, 5]
        assert cells[0]["cw_offset"] == []  # -1 sentinels dropped
        lut = x.parse_face_ijk_base_cells(self.BASECELLS_C)
        assert len(lut) == 540
        assert lut["0,0,0,0"] == [0, 0] and lut["0,0,0,1"] == [7, 1]

    def test_output_feeds_h3compat_loader(self, tmp_path):
        import json as _json
        import sys
        sys.path.insert(0, "/root/repo/tools")
        import extract_h3_tables as x
        from osmptparser_spark.functions import h3compat as hc

        t = {
            "face_center_geo": x.parse_face_center_geo(self.FACEIJK_C),
            "face_axes_az_i": x.parse_face_axes_az(self.FACEIJK_C),
            "base_cells": x.parse_base_cell_data(self.BASECELLS_C),
            "face_ijk_base_cells": x.parse_face_ijk_base_cells(self.BASECELLS_C),
        }
        p = tmp_path / "t.json"
        p.write_text(_json.dumps(t))
        try:
            loaded = hc.load_tables(str(p))
            assert len(loaded["base_cells"]) == 122
        finally:
            hc._tables = None


# --- packing shard-range guard ------------------------------------------------


class TestPackingShardGuard:
    def test_wide_shard_column_raises(self, spark):
        from osmptparser_spark.operators.packing import pack_sequences
        from osmptparser_spark.session import local_df

        df = local_df(
            spark, [(1, "a b c"), (2, "d e")], "doc_id BIGINT, text STRING"
        )
        packed = pack_sequences(
            df, budget=10, shard=F.xxhash64("doc_id")  # full-range long
        )
        with pytest.raises(Exception, match="2\\^31"):
            packed.collect()

    def test_bounded_shard_column_ok(self, spark):
        from osmptparser_spark.operators.packing import pack_sequences
        from osmptparser_spark.session import local_df

        df = local_df(
            spark, [(1, "a b c"), (2, "d e"), (3, "f")],
            "doc_id BIGINT, text STRING",
        )
        rows = pack_sequences(
            df, budget=3, shard=F.pmod(F.xxhash64("doc_id"), F.lit(4))
        ).collect()
        assert len(rows) == 3
        assert all(0 <= r.shard < 4 for r in rows)
