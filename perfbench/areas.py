"""``areas`` workload: a seeded city of park rings -> area mode with
"name&landuse=park" -> point-in-polygon join of a seeded point cloud
against the stitched rings.

Why: it uses stitch with ``closed=True`` and mostly one-way groups, so
its stitch cost is per group rather than per node, and it joins points
to polygons instead of kNN. A stitch or join-strategy change tuned for
``routes`` that costs something here shows here.
"""

from __future__ import annotations

import math
import sys

import numpy as np

from .common import (
    GAP_M, Layers, dangling_refs, materialize, mix_col, mix_np, pip_candidates,
    seq_hash_col, seq_hash_py, stitch_counters, write_rows,
)

FILTER = "name&landuse=park"
N_REL_PARKS = 12  # multi-way relation parks
N_WAY_PARKS = 36  # standalone single-way parks
N_STREETS = 100  # tagged ways the filter rejects
N_POINTS = 20_000
LAT0, LON0, SPAN = 40.35, -3.80, 0.20  # city bounding box corner and size (deg)
REL_ID0, WAY_ID0 = 50_000_000, 10_000_000  # disjoint id ranges: poly ids stay unique
POLY_RINGS = 16  # poly_id = area id * POLY_RINGS + ring index
#: Untagged filler nodes and ways pad the city to these totals (above the
#: most any seed draws), so every seed has the same number of pages.
N_NODES, N_WAYS = 1_600, 250
#: Relation park kinds: ordered, member order scrambled (second sweep),
#: ring end a distinct node near its start (102 on closing), ring end
#: far from its start (501 on closing), middle member missing (501).
REL_KINDS = (("ok", 0.55), ("scrambled", 0.15), ("near", 0.15), ("open", 0.10), ("hole", 0.05))
WAY_KINDS = (("ok", 0.7), ("near", 0.15), ("open", 0.15))
#: Timed jobs per run at least: records_per_s is their median.
MIN_JOBS = 3


def key() -> dict:
    """Input cache key: the sources of the generator and of everything
    ``reference`` computes with, and the input size."""
    from osmptparser_spark.functions import tagfilter
    from osmptparser_spark.operators import stitch_core
    from osmptparser_spark.sources import pages

    from . import common

    mods = (sys.modules[__name__], common, pages, stitch_core, tagfilter)
    return {"gen": common.source_digest(*mods), "parks": N_REL_PARKS + N_WAY_PARKS,
            "points": N_POINTS}


def _pick(rng, kinds) -> str:
    x, acc = rng.random(), 0.0
    for name, p in kinds:
        acc += p
        if x < acc:
            return name
    return kinds[-1][0]


class _City:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.nodes, self.ways, self.rels = [], [], []
        self.next_node, self.next_way, self.next_rel = 1, WAY_ID0, REL_ID0

    def node(self, lat: float, lon: float) -> int:
        nid = self.next_node
        self.next_node += 1
        self.nodes.append({"id": nid, "lat": float(lat), "lon": float(lon), "tags": {}})
        return nid

    def way(self, refs, tags) -> int:
        wid = self.next_way
        self.next_way += 1
        self.ways.append({"id": wid, "refs": list(refs), "tags": tags, "info": {"version": "1"}})
        return wid

    def ring(self, kind: str) -> list[int]:
        """Node ids of one park outline; closed by id for 'ok' kinds."""
        rng = self.rng
        r_m = rng.uniform(180, 400) if kind == "open" else rng.uniform(40, 300)
        clat = LAT0 + rng.uniform(0.01, SPAN - 0.01)
        clon = LON0 + rng.uniform(0.01, SPAN - 0.01)
        m = int(rng.integers(10, 28))
        ang = np.sort(rng.uniform(0, 2 * math.pi, m))
        rad = r_m * rng.uniform(0.6, 1.0, m)
        dlat = rad * np.sin(ang) / 111_320.0
        dlon = rad * np.cos(ang) / (111_320.0 * math.cos(math.radians(clat)))
        ids = [self.node(clat + a, clon + o) for a, o in zip(dlat, dlon)]
        if kind == "near":  # a distinct end node 5-30 m from the start
            d = rng.uniform(5, 30) / 111_320.0
            first = self.nodes[-m]
            ids.append(self.node(first["lat"] + d, first["lon"]))
        elif kind == "open":  # last third dropped: start and end > 150 m apart
            ids = ids[: (2 * m) // 3]
        else:
            ids.append(ids[0])
        return ids


def _entities(seed: int):
    city = _City(seed)
    rng = city.rng
    for i in range(N_REL_PARKS):
        kind = _pick(rng, REL_KINDS)
        ring = city.ring("ok" if kind in ("scrambled", "hole") else kind)
        n_ways = int(rng.integers(3, min(7, len(ring) - 1)))
        cuts = sorted(rng.choice(np.arange(1, len(ring) - 1), n_ways - 1, replace=False))
        bounds = [0, *cuts, len(ring) - 1]
        members = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            refs = ring[a : b + 1]
            if rng.random() < 0.3:
                refs = refs[::-1]
            if rng.random() < 0.1 and len(refs) > 2:  # dangling node ref mid-way
                refs = refs[:1] + [10**12 + city.next_node] + refs[1:]
            members.append(city.way(refs, {}))
        if kind == "scrambled":
            members[0], members[1] = members[1], members[0]
        elif kind == "hole":
            del members[len(members) // 2]
        if rng.random() < 0.1:  # dangling way ref
            members.append(10**12 + i)
        tags = {"landuse": "park", "name": f"Park {i}", "type": "multipolygon"}
        info = {"version": "1"}
        if rng.random() < 0.05:
            # name only in the info map: the line prefilter keeps it, the
            # exact tag filter drops it
            del tags["name"]
            info["name"] = f"Park {i}"
        city.rels.append({"id": city.next_rel, "tags": tags, "info": info,
                          "way_refs": members, "stop_refs": []})
        city.next_rel += 1
    for i in range(N_WAY_PARKS):
        kind = _pick(rng, WAY_KINDS)
        city.way(city.ring(kind), {"landuse": "park", "leisure": "park", "name": f"Green {i}"})
    for i in range(N_STREETS):
        a = city.node(LAT0 + rng.uniform(0, SPAN), LON0 + rng.uniform(0, SPAN))
        b = city.node(LAT0 + rng.uniform(0, SPAN), LON0 + rng.uniform(0, SPAN))
        tags = {"highway": "residential", "name": f"Street {i}"}
        if rng.random() < 0.2:
            tags = {"landuse": "park"}  # unnamed park: rejected
        city.way([a, b], tags)
    while len(city.nodes) < N_NODES:
        city.node(LAT0 + rng.uniform(0, SPAN), LON0 + rng.uniform(0, SPAN))
    while len(city.ways) < N_WAYS:
        city.way([int(rng.integers(1, N_NODES + 1)) for _ in range(2)], {})
    assert len(city.nodes) == N_NODES and len(city.ways) == N_WAYS
    return city.nodes, city.ways, city.rels


def _points(seed: int):
    rng = np.random.default_rng(seed + 7_919)
    lat = LAT0 + rng.uniform(0, SPAN, N_POINTS)
    lon = LON0 + rng.uniform(0, SPAN, N_POINTS)
    return np.arange(1, N_POINTS + 1, dtype=np.int64), lat, lon


def ray_cast(px, py, rx, ry):
    """Even-odd rule of points (px, py) against a closed ring (rx, ry)."""
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(rx) - 1):
        xa, ya, xb, yb = rx[i], ry[i], rx[i + 1], ry[i + 1]
        crosses = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (xb - xa) * (py - ya) / (yb - ya) + xa
        inside ^= crosses & (px < x_at)
    return inside


def reference(seed: int) -> dict:
    """Expected outputs, computed on the driver without Spark: stitch_core
    over the regenerated entities, then a ray cast of the point cloud
    against every stitched ring of at least 4 nodes."""
    from osmptparser_spark.functions.tagfilter import tag_filter_py
    from osmptparser_spark.operators import stitch_core

    nodes, ways, rels = _entities(seed)
    node_at = {n["id"]: (n["id"], n["lat"], n["lon"]) for n in nodes}
    way_by_id = {w["id"]: w for w in ways}
    areas = {}
    rings = []

    def add(key: str, aid: int, members):
        geom, (code, _) = stitch_core.flatten([m for m in members if m], GAP_M, True)
        seq = [[n[0] for n in seg] for seg in geom]
        areas[key] = [code, seq_hash_py(seq), sum(map(len, seq))]
        for i, seg in enumerate(geom):
            if len(seg) >= 4:
                rings.append((aid * POLY_RINGS + i, seg))

    for r in rels:
        if tag_filter_py(r["tags"], FILTER) and r["way_refs"]:
            members = [
                [node_at[i] for i in way_by_id[w]["refs"] if i in node_at]
                for w in r["way_refs"] if w in way_by_id
            ]
            add(f"r{r['id']}", r["id"], members)
    for w in ways:
        if tag_filter_py(w["tags"], FILTER) and w["refs"]:
            add(f"w{w['id']}", w["id"], [[node_at[i] for i in w["refs"] if i in node_at]])

    pid, plat, plon = _points(seed)
    pairs = []
    for poly_id, seg in rings:
        ry = np.array([n[1] for n in seg])
        rx = np.array([n[2] for n in seg])
        box = (plat >= ry.min()) & (plat <= ry.max()) & (plon >= rx.min()) & (plon <= rx.max())
        hit = ray_cast(plon[box], plat[box], rx, ry)
        pairs += [(int(p), poly_id) for p in pid[box][hit]]
    a = np.array([p for p, _ in pairs], dtype=np.int64)
    b = np.array([q for _, q in pairs], dtype=np.int64)
    return {"areas": areas, "pip": [len(pairs), mix_np(a, b)]}


def load(spark, path: str):
    return spark.read.parquet(path + "/pages"), spark.read.parquet(path + "/points")


def generate(path: str, seed: int):
    from osmptparser_spark.sources.pages import PAGES_DDL, entities_to_pages

    nodes, ways, rels = _entities(seed)
    n = write_rows(entities_to_pages(nodes, ways, rels), PAGES_DDL, path + "/pages")
    pid, lat, lon = _points(seed)
    write_rows(list(zip(pid.tolist(), lat.tolist(), lon.tolist())),
               "id BIGINT, lat DOUBLE, lon DOUBLE", path + "/points")
    return n, reference(seed)


# --- job ----------------------------------------------------------------------------


def _extract(pages):
    from osmptparser_spark.functions.tagfilter import line_prefilter
    from osmptparser_spark.sources.pages import (
        extract_nodes_sql, extract_relations_sql, extract_ways_sql,
    )

    relations = extract_relations_sql(pages, line_filter=line_prefilter(FILTER))
    return relations, extract_ways_sql(pages), extract_nodes_sql(pages)


def polygons(areas):
    """Every stitched ring of at least 4 nodes as (poly_id, ring)."""
    from pyspark.sql import functions as F

    return (
        areas.select("id", F.posexplode("geometry").alias("i", "ring"))
        .filter(F.size("ring") >= 4)
        .select((F.col("id") * POLY_RINGS + F.col("i")).alias("poly_id"), "ring")
    )


def digest(outputs) -> dict:
    """Small collected digest of the job's full output ``(areas, pip)``."""
    from pyspark.sql import functions as F

    areas, pip = outputs
    rows = areas.select(
        "id", "id_type", "status_code", seq_hash_col("node_seq"),
        F.size(F.flatten("geometry")),
    ).collect()
    p = pip.agg(
        F.count(F.lit(1)), F.sum(mix_col(F.col("point_id"), F.col("poly_id")))
    ).collect()[0]
    return {
        "areas": {f"{r[1]}{r[0]}": [r[2], r[3], r[4]] for r in rows},
        "pip": [int(x or 0) for x in p],
    }


def job(spark, inp) -> tuple:
    """The timed job; -> its outputs, materialized, for ``digest``."""
    from osmptparser_spark.engine import get_areas
    from osmptparser_spark.operators.spatial import point_in_polygon_join

    pages, points = inp
    # the extracted tables are materialized first, as the traced pages
    # layer does: the engine reads each of them in several branches
    # (relations also as the pushdown barrier of the exact tag filter,
    # see engine._barrier), and every branch would redo the extraction.
    # areas: read by the join and by the digest.
    relations, ways, nodes = (materialize(df)[0] for df in _extract(pages))
    areas = materialize(get_areas(nodes, ways, relations, GAP_M, FILTER))[0]
    return areas, materialize(point_in_polygon_join(points, polygons(areas)))[0]


def traced(layers: Layers, inp, n_pages: int, ref: dict) -> dict:
    """The job layer by layer, each public call on the previous layer's
    materialized output."""
    from osmptparser_spark.engine import filter_relations, filter_ways, get_areas
    from osmptparser_spark.operators.hydrate import (
        hydrated_node_rows, semi_join_ways, single_way_node_rows,
    )
    from osmptparser_spark.operators.spatial import point_in_polygon_join
    from osmptparser_spark.operators.stitch import stitch_node_rows_partitioned

    pages, points = inp
    with layers.tracer.span("pages"):
        relations, ways, nodes = _extract(pages)
        relations = layers.call("pages", "extract_relations",
                                lambda: materialize(relations), n_pages)
        ways = layers.call("pages", "extract_ways", lambda: materialize(ways), n_pages)
        nodes = layers.call("pages", "extract_nodes", lambda: materialize(nodes), n_pages)
    n_rel, n_ways, n_nodes = relations.count(), ways.count(), nodes.count()
    with layers.tracer.span("engine"):
        rel = layers.call("tagfilter", "filter_relations",
                          lambda: materialize(filter_relations(relations, FILTER)), n_rel)
        std = layers.call("tagfilter", "filter_ways",
                          lambda: materialize(filter_ways(ways, FILTER)), n_ways)
        n_rel_f, n_std = rel.count(), std.count()
        with layers.tracer.span("hydrate"):
            rel_ways = layers.call("hydrate", "semi_join_ways",
                                   lambda: materialize(semi_join_ways(ways, rel)),
                                   n_ways + n_rel_f)
            node_rows = layers.call(
                "hydrate", "hydrated_node_rows",
                lambda: materialize(hydrated_node_rows(rel, rel_ways, nodes)),
                n_rel_f + rel_ways.count() + n_nodes,
            )
            single = layers.call("hydrate", "single_way_node_rows",
                                 lambda: materialize(single_way_node_rows(std, nodes)),
                                 n_std + n_nodes)
        with layers.tracer.span("stitch"):
            st_rel = layers.call(
                "stitch", "stitch_node_rows_partitioned",
                lambda: materialize(stitch_node_rows_partitioned(node_rows, GAP_M, closed=True)),
                node_rows.count(),
            )
            st_way = layers.call(
                "stitch", "stitch_node_rows_partitioned",
                lambda: materialize(stitch_node_rows_partitioned(single, GAP_M, closed=True)),
                single.count(),
            )
        areas = layers.call(
            "engine.call", "get_areas",
            lambda: materialize(get_areas(nodes, ways, relations, GAP_M, FILTER)),
            n_rel + n_ways + n_nodes,
        )
    layers.remainder("engine", layers.metrics["engine.call"], ["tagfilter", "hydrate", "stitch"])
    polys = polygons(areas).cache()
    points = points.cache()
    n_polys, n_points = polys.count(), points.count()
    pip = layers.call("pip", "point_in_polygon_join",
                      lambda: materialize(point_in_polygon_join(points, polys)),
                      n_polys + n_points)

    m = layers.metrics
    with layers.instrument():
        out = digest((areas, pip))
        dangling = dangling_refs(rel, rel_ways, node_rows) + _dangling_single(std, single)
        codes = [r[0] for st in (st_rel, st_way) for r in st.select("status_code").collect()]
        candidates = pip_candidates(layers)
    extra = {
        "pages.input_mb": m["pages"]["input_mb"],
        "tagfilter.prefilter_keep_ratio": n_rel_f / n_rel,
        "hydrate.dangling_refs": dangling,
        "pip.candidates": candidates,
        "pip.refine_precision": m["pip"]["rows_out"] / candidates,
        **stitch_counters(codes),
    }
    return {"digest": out, "extra": extra, "not_in_job": []}


def _dangling_single(std, single) -> int:
    """Node refs of the standalone ways that hydration dropped."""
    from pyspark.sql import functions as F

    return int((std.select(F.sum(F.size("refs"))).first()[0] or 0) - single.count())


# --- check --------------------------------------------------------------------------


def check(d: dict, ref: dict) -> list[str]:
    errors = []
    got, want = d["areas"], ref["areas"]
    if got.keys() != want.keys():
        errors.append(f"areas: {len(got.keys() - want.keys())} extra, "
                      f"{len(want.keys() - got.keys())} missing")
    bad = [k for k in want.keys() & got.keys() if list(got[k]) != list(want[k])]
    if bad:
        k = bad[0]
        errors.append(f"areas: {len(bad)} differ, e.g. {k}: {got[k]} != {want[k]}")
    if list(d["pip"]) != list(ref["pip"]):
        errors.append(f"pip (pairs, checksum): {d['pip']} != {ref['pip']}")
    return errors


def corrupt(d: dict, ref: dict) -> dict:
    """One wrong area status: the check must reject it."""
    got = dict(d["areas"])
    k = min(got)
    got[k] = [501 if got[k][0] != 501 else 0, *got[k][1:]]
    return {**d, "areas": got}
