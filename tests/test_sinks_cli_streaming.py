"""GeoJSON sink shape parity, CLI end-to-end, multimodal plumbing, and
streaming-vs-batch equivalence."""

import json
import os

import pytest

from pyspark.sql import functions as F


class TestGeoJson:
    @pytest.fixture(scope="class")
    def pts(self, entity_dfs):
        from osmptparser_spark.engine import get_public_transports
        from osmptparser_spark.functions.tagfilter import PTV2_FILTER

        nodes, ways, relations = entity_dfs
        return get_public_transports(nodes, ways, relations, 1500.0, PTV2_FILTER)

    def test_public_transport_shape(self, pts):
        from osmptparser_spark.sources.geojson import public_transport_geojson

        rows = {r.id: json.loads(r.geojson) for r in public_transport_geojson(pts).collect()}
        doc = rows[2030162]
        assert doc["type"] == "FeatureCollection"
        assert doc["properties"]["id"] == 2030162
        assert doc["properties"]["parse_status"] == {"code": 0, "detail": ""}
        line = doc["features"][0]
        # reference quirk preserved: LineString type with nested
        # multi-linestring coordinates (relation.rs:378-381)
        assert line["geometry"]["type"] == "LineString"
        assert len(line["geometry"]["coordinates"]) == 1
        assert len(line["geometry"]["coordinates"][0]) == 90
        assert line["geometry"]["coordinates"][0][0] == pytest.approx(
            [-79.93008490000001, -2.1555106]
        )
        stops_fc = doc["features"][1]
        assert stops_fc["type"] == "FeatureCollection"
        assert len(rows[85965]["features"][1]["features"]) == 31
        pt = stops_fc["features"][0]
        assert pt["geometry"]["type"] == "Point"

    def test_area_filter_and_shape(self, spark):
        from osmptparser_spark.engine import get_areas
        from osmptparser_spark.sources.geojson import area_geojson

        nodes = spark.createDataFrame(
            [(1, 0.0, 0.0, {}), (2, 0.0, 0.001, {}), (3, 0.0005, 0.001, {}),
             (4, 5.0, 5.0, {}), (5, 5.9, 5.0, {})],
            "id BIGINT, lat DOUBLE, lon DOUBLE, tags MAP<STRING,STRING>",
        )
        ways = spark.createDataFrame(
            [
                (10, {"natural": "beach"}, {}, [1, 2, 3, 1]),  # closed: status 0
                (11, {"natural": "beach"}, {}, [4, 5]),  # unclosable: 501
            ],
            "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, refs ARRAY<BIGINT>",
        )
        relations = spark.createDataFrame(
            [], "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, "
            "way_refs ARRAY<BIGINT>, stop_refs ARRAY<BIGINT>",
        )
        areas = get_areas(nodes, ways, relations, 150.0, "natural=beach")
        out = {r.id: json.loads(r.geojson) for r in area_geojson(areas).collect()}
        # F5: the broken one is filtered out
        assert set(out) == {10}
        doc = out[10]
        assert doc["geometry"]["type"] == "Polygon"
        assert doc["properties"]["id_type"] == "w"
        assert doc["geometry"]["coordinates"][0][0] == doc["geometry"]["coordinates"][0][-1]


class TestCli:
    def test_cli_pages_to_geojson(self, spark, tmp_path):
        from osmptparser_spark import cli
        from osmptparser_spark.sources import pages as P
        from tests.fixture_util import load_entities

        data = load_entities()
        pages = P.pages_df(
            spark, P.entities_to_pages(data["nodes"], data["ways"], data["relations"])
        )
        inp = str(tmp_path / "pages.parquet")
        outp = str(tmp_path / "out")
        pages.write.parquet(inp)
        rc = cli.main(
            ["--filter-ptv2", "--input", inp, "--gap", "1500", "--output", outp]
        )
        assert rc == 0
        lines = []
        for f in os.listdir(outp):
            if f.startswith("part-"):
                with open(os.path.join(outp, f)) as fh:
                    lines += [l for l in fh if l.strip()]
        docs = sorted((json.loads(l)["properties"]["id"] for l in lines))
        assert docs == [85965, 2030162]


class TestMultimodal:
    def test_fake_decode_features(self, spark):
        from osmptparser_spark.operators.multimodal import (
            decode_image_features,
            synthesize_media,
        )

        media = synthesize_media(spark, 32)
        feats = decode_image_features(media).collect()
        assert len(feats) == 32
        for r in feats:
            assert (r.width, r.height) == (8, 8)
            assert len(r.features) == 4  # 8/4 * 8/4 pooled grid
        # determinism
        again = decode_image_features(synthesize_media(spark, 32)).collect()
        assert sorted((r.media_id, tuple(r.features)) for r in again) == sorted(
            (r.media_id, tuple(r.features)) for r in feats
        )

    def test_real_decoder_dispatch(self, spark):
        # round 5: PNG decodes for real (pure python); non-PNG formats
        # still fail loudly (no codec wheels in this environment)
        import numpy as np

        from osmptparser_spark.functions.png import encode_png
        from osmptparser_spark.operators.multimodal import real_decode_stub

        with pytest.raises(ValueError, match="PNG"):
            real_decode_stub(b"\xff\xd8\xff")
        img = np.full((4, 4), 9, dtype=np.uint8)
        h, w, arr = real_decode_stub(encode_png(img))
        assert (h, w) == (4, 4) and float(arr.mean()) == 9.0


class TestStreaming:
    def test_streaming_matches_batch(self, spark, tmp_path):
        from osmptparser_spark.streaming.events import (
            run_to_memory_sink,
            stream_events_from_dir,
            windowed_counts,
        )

        src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # split into several files to simulate micro-batches
        d = str(tmp_path / "stream_src")
        src.repartition(4).write.parquet(d)
        stream = stream_events_from_dir(spark, d)
        assert stream.isStreaming
        q = run_to_memory_sink(windowed_counts(stream), "ev_counts")
        try:
            q.processAllAvailable()
            got = {
                (r.window_start, r.event_type): r.cnt
                for r in spark.sql("select * from ev_counts").collect()
            }
        finally:
            q.stop()
        want = {
            (r.window_start, r.event_type): r.cnt
            for r in windowed_counts(src).collect()
        }
        assert got == want and len(want) > 0
