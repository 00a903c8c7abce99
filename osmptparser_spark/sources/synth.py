"""Deterministic synthetic geo-entity + pages generator (bench/test scale).

Builds a grid-city of bus routes: each route relation chains
``ways_per_route`` member ways whose endpoint node ids are shared
(stitchable, status 0) — with a seeded fraction of shuffled/broken
routes to exercise the 101/102/501 paths. Entities are packed into the
pages microformat (sources/pages.py), so the bench pipeline runs the
full extract -> filter -> semi-join -> hydrate -> stitch -> tile chain
from a pages table, like production would.
"""

from __future__ import annotations

import numpy as np

from .pages import entities_to_pages

BBOX = (-3.0, 1.0, -81.0, -77.0)  # lat_min, lat_max, lon_min, lon_max


def synth_geo_entities(
    n_routes: int = 1000,
    ways_per_route: int = 20,
    nodes_per_way: int = 10,
    stops_per_route: int = 8,
    seed: int = 42,
):
    """-> (nodes, ways, relations) entity dicts, ids disjoint and stable."""
    rng = np.random.default_rng(seed)
    lat_min, lat_max, lon_min, lon_max = BBOX
    nodes = []
    ways = []
    relations = []
    node_id = 1
    way_id = 10_000_000
    rel_id = 100_000_000
    for r in range(n_routes):
        kind = rng.random()
        # status mix: ~5% 101 (member order needs a second sweep), ~5%
        # 501 (hole wider than the 150 m default gap), ~3% 102 (hole
        # bridgeable within 150 m), rest 0
        dense = kind < 0.13 and kind >= 0.10
        step_deg = 1.2e-4 if dense else 2e-4  # ~13 m vs ~22 m per step
        origin_lat = rng.uniform(lat_min, lat_max)
        origin_lon = rng.uniform(lon_min, lon_max)
        n_pts = ways_per_route * (nodes_per_way - 1) + 1
        steps = rng.normal(0, step_deg, size=(n_pts - 1, 2))
        pts = np.cumsum(np.vstack([[origin_lat, origin_lon], steps]), axis=0)
        if 0.05 <= kind < 0.10:
            # teleport from the interior of the soon-to-be-dropped middle
            # way (NOT a run endpoint) ~860 m: the hole cannot be bridged
            # at the default 150 m gap -> status 501
            cut = (ways_per_route // 2) * (nodes_per_way - 1) + nodes_per_way // 2
            pts[cut:] += 5.5e-3
        ids = list(range(node_id, node_id + n_pts))
        node_id += n_pts
        for nid, (la, lo) in zip(ids, pts):
            nodes.append(
                {"id": nid, "lat": float(la), "lon": float(lo), "tags": {}}
            )
        way_refs = []
        for w in range(ways_per_route):
            lo_i = w * (nodes_per_way - 1)
            refs = ids[lo_i : lo_i + nodes_per_way]
            if rng.random() < 0.3:
                refs = refs[::-1]  # direction flips: first_pass handles
            ways.append(
                {
                    "id": way_id,
                    "tags": {},
                    "info": {},
                    "refs": refs,
                }
            )
            way_refs.append(way_id)
            way_id += 1
        if kind < 0.05 and len(way_refs) >= 3:
            # [B, A, C...]: one forward sweep leaves 2 runs, the second
            # sweep (post-identity-sort) merges -> status 101
            way_refs = [way_refs[1], way_refs[0]] + way_refs[2:]
        elif kind < 0.13:
            # drop a middle way: geometric hole of ~(nodes_per_way-1)
            # steps. dense routes (~100 m) bridge at 150 m -> 102;
            # normal routes (~200 m) exceed it -> 501
            mid = len(way_refs) // 2
            way_refs = way_refs[:mid] + way_refs[mid + 1 :]
        stop_ids = [int(i) for i in rng.choice(ids, size=stops_per_route, replace=False)]
        relations.append(
            {
                "id": rel_id,
                "tags": {
                    "name": f"Route {r}",
                    "route": "bus",
                    "type": "route",
                },
                "info": {"version": "1", "timestamp": str(1550000000 + r)},
                "way_refs": way_refs,
                "stop_refs": stop_ids,
            }
        )
        rel_id += 1
    return nodes, ways, relations


def synth_pages_spark(
    spark,
    n_routes: int = 1000,
    routes_per_task: int = 250,
    seed: int = 42,
    entities_per_page: int = 50,
):
    """Distributed generator: each task synthesizes a disjoint block of
    routes (ids offset by block) and packs its own pages. Deterministic
    for a given (n_routes, seed) regardless of parallelism — per-block
    seeded RNGs, block-namespaced urls. This is the generator shape a
    100 TB synthetic corpus would use: driver ships only block indices.
    """
    import pandas as pd

    n_blocks = (n_routes + routes_per_task - 1) // routes_per_task
    blocks = spark.range(n_blocks).repartition(min(n_blocks, 256))

    def gen(batches):
        for pdf in batches:
            out = []
            for blk in pdf["id"]:
                blk = int(blk)
                count = min(routes_per_task, n_routes - blk * routes_per_task)
                nodes, ways, relations = synth_geo_entities(
                    n_routes=count, seed=seed + blk
                )
                # namespace entity ids by block so blocks stay disjoint
                off = blk * routes_per_task
                nid_off = off * 10_000
                wid_off = off * 1_000
                for n in nodes:
                    n["id"] += nid_off
                for w in ways:
                    w["id"] += wid_off
                    w["refs"] = [r + nid_off for r in w["refs"]]
                for r in relations:
                    r["id"] += off
                    r["way_refs"] = [w + wid_off for w in r["way_refs"]]
                    r["stop_refs"] = [s + nid_off for s in r["stop_refs"]]
                for url, ts, html, text, lang in entities_to_pages(
                    nodes, ways, relations, entities_per_page
                ):
                    out.append(
                        (url.replace(".test/", f".test/b{blk}/"), ts, html, text, lang)
                    )
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return blocks.mapInPandas(
        gen,
        "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING",
    )
