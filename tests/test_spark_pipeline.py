"""End-to-end Spark pipeline on the reference fixture: filter -> semi-join
-> hydrate -> stitch -> verify against the reference's integration-test
assertions (tests/integration_test.rs:9-18) and the stitch goldens."""

import hashlib
import json

import pytest

from osmptparser_spark.engine import get_areas, get_public_transports
from osmptparser_spark.functions.tagfilter import PTV2_FILTER, compile_tag_filter


def _sha16(obj):
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def pts(entity_dfs):
    nodes, ways, relations = entity_dfs
    # gap 1500 m as in the reference integration test
    df = get_public_transports(nodes, ways, relations, 1500.0, PTV2_FILTER)
    return sorted(df.collect(), key=lambda r: r.id)


class TestIntegrationParity:
    def test_reference_integration_assertions(self, pts):
        assert [r.id for r in pts] == [85965, 2030162]
        r0, r1 = pts
        assert r0.tags["name"] == "Trolebus Quitumbe => La Y"
        assert r0.info["version"] == "226"
        assert r0.info["timestamp"] == "1552883955"
        assert len(r0.stops) == 31
        assert r1.tags["name"] == "B6 Mapasingue Oeste Ida"
        assert r1.info["version"] == "13"
        assert r1.info["timestamp"] == "1555013271"
        assert len(r1.stops) == 1

    def test_stitch_goldens_via_spark(self, pts):
        r0, r1 = pts
        assert r0.status_code == 501 and r0.status_detail == "Broken"
        assert r0.geometry == [] and r0.node_seq == []
        assert r1.status_code == 0 and r1.status_detail == ""
        assert len(r1.node_seq) == 1 and len(r1.node_seq[0]) == 90
        assert _sha16([list(s) for s in r1.node_seq]) == "825a6368059b6fd6"
        first, last = r1.geometry[0][0], r1.geometry[0][-1]
        assert (round(first.lon, 6), round(first.lat, 6)) == (-79.930085, -2.155511)
        assert (round(last.lon, 6), round(last.lat, 6)) == (-79.952763, -2.152262)

    def test_stop_order_preserved(self, pts):
        r0 = pts[0]
        stop_ids = [s.id for s in r0.stops]
        assert _sha16(stop_ids) == "20d4a126e253c6ba"
        assert r0.stops[0].id == 890878123
        assert r0.stops[0].tags.get("name") == "Terminal Terrestre Quitumbe"


class TestTagFilter:
    def test_grammar_on_fixture(self, entity_dfs, spark):
        _, _, relations = entity_dfs
        assert relations.filter(compile_tag_filter("name&route=bus")).count() == 1
        assert relations.filter(compile_tag_filter("route=trolleybus")).count() == 1
        assert relations.filter(compile_tag_filter("nonexistent_key")).count() == 0
        assert relations.filter(compile_tag_filter("name&route_master")).count() == 0
        assert (
            relations.filter(compile_tag_filter("type=route&route=bus,trolleybus")).count()
            == 2
        )

    def test_matches_python_reference_semantics(self, entity_dfs):
        from osmptparser_spark.functions.tagfilter import tag_filter_py

        _, _, relations = entity_dfs
        rows = relations.collect()
        for cond in ["name", "name&route=bus", "route=tram", "name&type=route"]:
            from osmptparser_spark.functions.tagfilter import compile_tag_filter as c

            spark_ids = {
                r.id for r in relations.filter(c(cond)).select("id").collect()
            }
            py_ids = {r.id for r in rows if tag_filter_py(r.tags, cond)}
            assert spark_ids == py_ids, cond


class TestAreas:
    def test_relation_areas_and_way_areas(self, entity_dfs):
        nodes, ways, relations = entity_dfs
        # fixture has no closed rings; use the PT relations in area mode to
        # exercise the branch: both should come out 'r' with some status,
        # plus every tagged way with >=2 nodes as a 'w' area.
        df = get_areas(nodes, ways, relations, 150.0, "name&route=bus,trolleybus")
        rows = df.collect()
        r_rows = [r for r in rows if r.id_type == "r"]
        assert {r.id for r in r_rows} == {85965, 2030162}
        # routes are open linestrings far from closed -> 501 in area mode
        assert all(r.status_code == 501 for r in r_rows)
        w_rows = [r for r in rows if r.id_type == "w"]
        # no standalone way matches name&route=... in the fixture
        assert w_rows == []

    def test_way_areas_close_rings(self, spark):
        # synthetic: a way whose endpoints are ~50m apart closes to a ring
        nodes = spark.createDataFrame(
            [
                (1, 0.0, 0.0, {}),
                (2, 0.0, 0.001, {}),
                (3, 0.0005, 0.001, {}),
            ],
            "id BIGINT, lat DOUBLE, lon DOUBLE, tags MAP<STRING,STRING>",
        )
        ways = spark.createDataFrame(
            [(10, {"natural": "beach", "name": "b"}, {}, [1, 2, 3])],
            "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, refs ARRAY<BIGINT>",
        )
        relations = spark.createDataFrame(
            [],
            "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, "
            "way_refs ARRAY<BIGINT>, stop_refs ARRAY<BIGINT>",
        )
        df = get_areas(nodes, ways, relations, 150.0, "natural=beach")
        rows = df.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.id_type == "w" and r.status_code == 102
        assert [n for seg in r.node_seq for n in seg] == [1, 2, 3, 1]


class TestCacheBarrierContract:
    def _pages(self, spark, n_routes=30):
        from osmptparser_spark.sources.synth import synth_pages_spark

        return synth_pages_spark(spark, n_routes=n_routes, routes_per_task=10)

    def test_cache_barrier_contract(self, spark):
        """The load-bearing cache (engine._pages_entities) must hold
        the PREFILTERED relation table only — O(matched relations),
        never O(pages). Assert the measured storage size via the RDD
        storage registry after materialization."""
        from pyspark import StorageLevel

        from osmptparser_spark.engine import routes_from_pages
        from osmptparser_spark.functions.tagfilter import PTV2_FILTER

        spark.catalog.clearCache()
        pages = self._pages(spark)
        pts = routes_from_pages(pages, 150.0, PTV2_FILTER)
        n = pts.count()
        assert n > 0
        infos = spark._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        assert cached, "barrier cache was never materialized"
        total_mb = sum(i.memSize() + i.diskSize() for i in cached) / 1e6
        # 30 routes -> 30 relations; pages table is ~100x larger than
        # this bound, so the assertion distinguishes the two regimes
        assert total_mb < 8.0, f"cached {total_mb:.1f} MB: barrier holds more than relations"
        spark.catalog.clearCache()

    @staticmethod
    def _by_id(df):
        return sorted(
            (r.asDict(recursive=True) for r in df.collect()),
            key=lambda d: (d["id"], d.get("id_type", "")),
        )

    def test_routes_from_pages_matches_get_public_transports(self, spark):
        """The pages entry (prefilter + cache) must give exactly what the
        entity entry gives on the plainly extracted tables."""
        from osmptparser_spark.engine import get_public_transports, routes_from_pages
        from osmptparser_spark.functions.tagfilter import PTV2_FILTER
        from osmptparser_spark.sources.pages import extract_all

        pages = self._pages(spark)
        for conditions in (PTV2_FILTER, None):
            got = self._by_id(routes_from_pages(pages, 150.0, conditions))
            want = self._by_id(
                get_public_transports(*extract_all(pages), 150.0, conditions)
            )
            assert got == want and len(got) > 0
        spark.catalog.clearCache()

    def test_areas_from_pages_matches_get_areas(self, spark):
        """Same for area mode: covers the soundness of the way-line
        prefilter that only areas_from_pages applies."""
        import __spark_entry__ as entry_mod
        from osmptparser_spark.engine import areas_from_pages, get_areas
        from osmptparser_spark.sources.pages import entities_to_pages, extract_all, pages_df

        nodes, ways, rels = entry_mod._area_city_entities()
        pages = pages_df(spark, entities_to_pages(nodes, ways, rels, 10))
        cond = "name&landuse=park"
        got = self._by_id(areas_from_pages(pages, 150.0, cond))
        want = self._by_id(get_areas(*extract_all(pages), 150.0, cond))
        assert got == want
        assert {d["id_type"] for d in got} == {"r", "w"}
        spark.catalog.clearCache()

    def test_cli_pages_input_uses_cache_barrier(self, spark, tmp_path):
        """``--input-format pages`` goes through the pages entry, so the
        prefiltered relation cache is built and stays within the
        test_cache_barrier_contract bound."""
        import os

        from osmptparser_spark import cli

        spark.catalog.clearCache()
        inp = str(tmp_path / "pages.parquet")
        outp = str(tmp_path / "out")
        self._pages(spark).write.parquet(inp)
        assert cli.main(["--filter-ptv2", "--input", inp, "--output", outp]) == 0
        assert any(
            os.path.getsize(os.path.join(outp, f))
            for f in os.listdir(outp)
            if f.startswith("part-")
        )
        infos = spark._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        assert cached, "CLI pages run built no relation cache"
        total_mb = sum(i.memSize() + i.diskSize() for i in cached) / 1e6
        assert total_mb < 8.0, f"cached {total_mb:.1f} MB: barrier holds more than relations"
        spark.catalog.clearCache()


class TestParMap:
    def test_par_map_matches_driver_loop(self, spark):
        from osmptparser_spark.engine import par_map

        df = spark.range(100).selectExpr("id", "id * 2 AS x")

        def fn(row):
            return {"id": row["id"], "y": row["x"] + 1}

        got = sorted((r.id, r.y) for r in par_map(df, fn, "id BIGINT, y BIGINT").collect())
        assert got == [(i, 2 * i + 1) for i in range(100)]


class TestSessionProfiles:
    def test_cluster_profile_confs(self):
        from osmptparser_spark.session import DEFAULT_CONFS, build_confs

        c = build_confs("cluster")
        assert c["spark.sql.shuffle.partitions"] == "4096"
        assert c["spark.sql.autoBroadcastJoinThreshold"] == "64m"
        assert c["spark.sql.adaptive.enabled"] == "true"
        # explicit args override the profile
        c2 = build_confs("cluster", shuffle_partitions=77, confs={"spark.speculation": "false"})
        assert c2["spark.sql.shuffle.partitions"] == "77"
        assert c2["spark.speculation"] == "false"
        # local profile = defaults + single-JVM CPU savers (capped GC
        # threads, uncompressed local shuffle); cluster keeps compression
        cl = build_confs("local")
        assert cl["spark.shuffle.compress"] == "false"
        assert "ParallelGCThreads" in cl["spark.driver.extraJavaOptions"]
        assert "spark.shuffle.compress" not in c or c.get("spark.shuffle.compress") != "false"
        for k, v in DEFAULT_CONFS.items():
            assert cl[k] == v
        with pytest.raises(ValueError, match="profile"):
            build_confs("warehouse")
