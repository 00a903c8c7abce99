"""``routes`` workload: synthetic bus-route pages -> PTV2 route mode
(150 m gap) -> H3/S2 tiles of every node; the traced run adds the exact
1-NN stop of each query node.

Why: the historical headline. Extraction and open-chain stitching of
20-way groups dominate it, so stitch and extraction gains show here.

The exact kNN cascade (knn_join's default exact_fallback=True) is timed
only in the traced run: it costs about 90 Spark jobs and 40 s on a
4-core host whatever the input size, and one such job per run would
not fit the benchmark's run budget.
"""

from __future__ import annotations

import sys

import numpy as np

from .common import (
    GAP_M, Layers, dangling_refs, materialize, mix_col, mix_np, seq_hash_col, seq_hash_py,
    stitch_counters, write_rows,
)

N_ROUTES = 300
ROUTES_PER_TASK = 125  # synth_pages_spark's block size; the reference replays it
H3_RES, S2_LEVEL = 9, 16
#: Query and stop selection: a multiplicative hash of the node id below a
#: threshold, so the sets do not depend on partitioning or sampling.
Q_MULT, Q_FRAC = 2654435761, 0.005
S_MULT, S_FRAC = 2246822519, 0.05
DIST_TOL_M = 1e-6

#: Timed jobs per run at least: records_per_s is their median.
MIN_JOBS = 3


def key() -> dict:
    """Input cache key: the sources of the generator and of everything
    ``reference`` computes with, and the input size."""
    from osmptparser_spark.functions import h3x, s2x, tagfilter
    from osmptparser_spark.operators import stitch_core
    from osmptparser_spark.sources import pages, synth

    from . import common

    mods = (sys.modules[__name__], common, synth, pages, stitch_core, tagfilter, h3x, s2x)
    return {"gen": common.source_digest(*mods), "routes": N_ROUTES}


def _selected(ids, mult: int, frac: float):
    return np.mod(np.asarray(ids, dtype=np.int64) * mult, 2**32) < int(frac * 2**32)


def _select_col(df, mult: int, frac: float):
    from pyspark.sql import functions as F

    return df.filter(
        F.pmod(F.col("id") * F.lit(mult), F.lit(2**32)) < F.lit(int(frac * 2**32))
    )


# --- input + reference --------------------------------------------------------------


def _blocks(seed: int):
    """The entity blocks synth_pages_spark generates for (N_ROUTES, seed):
    one synth_geo_entities block per task, seeded seed+block, ids offset
    by block exactly as the generator does; yields (block, nodes, ways,
    relations)."""
    from osmptparser_spark.sources.synth import synth_geo_entities

    n_blocks = (N_ROUTES + ROUTES_PER_TASK - 1) // ROUTES_PER_TASK
    for blk in range(n_blocks):
        count = min(ROUTES_PER_TASK, N_ROUTES - blk * ROUTES_PER_TASK)
        bn, bw, br = synth_geo_entities(n_routes=count, seed=seed + blk)
        off = blk * ROUTES_PER_TASK
        nid_off, wid_off = off * 10_000, off * 1_000
        for n in bn:
            n["id"] += nid_off
        for w in bw:
            w["id"] += wid_off
            w["refs"] = [r + nid_off for r in w["refs"]]
        for r in br:
            r["id"] += off
            r["way_refs"] = [w + wid_off for w in r["way_refs"]]
            r["stop_refs"] = [s + nid_off for s in r["stop_refs"]]
        yield blk, bn, bw, br


def _entities(seed: int):
    nodes, ways, rels = [], [], []
    for _, bn, bw, br in _blocks(seed):
        nodes += bn
        ways += bw
        rels += br
    return nodes, ways, rels


def haversine_m(lat1, lon1, lat2, lon2):
    lat1, lon1, lat2, lon2 = map(np.radians, (lat1, lon1, lat2, lon2))
    a = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
    return 2 * 6_371_000.0 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


def reference(seed: int) -> dict:
    """Expected outputs, computed on the driver without Spark: stitch_core
    over the regenerated entities, direct h3x/s2x encodes and a
    brute-force haversine kNN."""
    from osmptparser_spark.functions import h3x, s2x
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER, tag_filter_py
    from osmptparser_spark.operators import stitch_core

    nodes, ways, rels = _entities(seed)
    node_at = {n["id"]: (n["id"], n["lat"], n["lon"]) for n in nodes}
    way_refs = {w["id"]: w["refs"] for w in ways}
    expect = {}
    for r in rels:
        if not tag_filter_py(r["tags"], PTV2_FILTER) or not r["way_refs"]:
            continue
        members = [
            [node_at[i] for i in way_refs[w] if i in node_at]
            for w in r["way_refs"] if w in way_refs
        ]
        geom, (code, _) = stitch_core.flatten([m for m in members if m], GAP_M, False)
        stops = [s for s in r["stop_refs"] if s in node_at]
        seq = [[n[0] for n in seg] for seg in geom]
        expect[str(r["id"])] = [code, seq_hash_py(seq), sum(map(len, seq)), seq_hash_py(stops)]

    ids = np.array([n["id"] for n in nodes], dtype=np.int64)
    lat = np.array([n["lat"] for n in nodes])
    lon = np.array([n["lon"] for n in nodes])
    h3 = h3x.latlng_to_cell(lat, lon, H3_RES).astype(np.int64)
    s2 = s2x.cell_id(lat, lon, S2_LEVEL).astype(np.int64)
    tiles = [len(ids), len(np.unique(h3)), len(np.unique(s2)), mix_np(h3, ids), mix_np(s2, ids)]

    q = _selected(ids, Q_MULT, Q_FRAC)
    s = _selected(ids, S_MULT, S_FRAC)
    s_ids, s_lat, s_lon = ids[s], lat[s], lon[s]
    knn = {}
    for qi, qa, qo in zip(ids[q], lat[q], lon[q]):
        d = haversine_m(qa, qo, s_lat, s_lon)
        best = float(d.min())
        knn[str(qi)] = [best, s_ids[d <= best + DIST_TOL_M].tolist()]

    return {"relations": expect, "tiles": tiles, "knn": knn}


def load(spark, path: str):
    return spark.read.parquet(path)


def pages_rows(seed: int) -> list[tuple]:
    """The page rows synth_pages_spark(N_ROUTES, ROUTES_PER_TASK, seed)
    emits, built on the driver: each block packed by entities_to_pages,
    its urls namespaced by block. Writing them with pyarrow spares the
    run a cold Python-worker job before set-up."""
    from osmptparser_spark.sources.pages import entities_to_pages

    return [
        (url.replace(".test/", f".test/b{blk}/"), ts, html, text, lang)
        for blk, bn, bw, br in _blocks(seed)
        for url, ts, html, text, lang in entities_to_pages(bn, bw, br)
    ]


def generate(path: str, seed: int):
    from osmptparser_spark.sources.pages import PAGES_DDL

    return write_rows(pages_rows(seed), PAGES_DDL, path), reference(seed)


# --- job ----------------------------------------------------------------------------


def _extract(pages):
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER, line_prefilter
    from osmptparser_spark.sources.pages import (
        extract_nodes_sql, extract_relations_sql, extract_ways_sql,
    )

    relations = extract_relations_sql(pages, line_filter=line_prefilter(PTV2_FILTER))
    return relations, extract_ways_sql(pages), extract_nodes_sql(pages)


def digest(outputs) -> dict:
    """Small collected digest of the job's full output: ``(pts, tiled)``,
    plus ``knn`` in the traced run."""
    from pyspark.sql import functions as F

    pts, tiled, knn = (*outputs, None)[:3]
    rel = pts.select(
        "id", "status_code", seq_hash_col("node_seq"), F.size(F.flatten("geometry")),
        seq_hash_col(F.transform("stops", lambda s: s["id"])),
    ).collect()
    t = tiled.agg(
        F.count(F.lit(1)), F.countDistinct("h3_cell"), F.countDistinct("s2_cell"),
        F.sum(mix_col(F.col("h3_cell"), F.col("id"))),
        F.sum(mix_col(F.col("s2_cell"), F.col("id"))),
    ).collect()[0]
    k = [] if knn is None else knn.select("query_id", "cand_id", "dist_m").collect()
    return {
        "relations": {str(r[0]): [r[1], r[2], r[3], r[4]] for r in rel},
        "tiles": [int(x or 0) for x in t],
        "knn": [[int(r[0]), int(r[1]), float(r[2])] for r in k],
    }


def job(spark, pages) -> tuple:
    """The timed job; -> its outputs, materialized, for ``digest``."""
    from osmptparser_spark.engine import get_public_transports
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER
    from osmptparser_spark.functions.tiling import with_cells

    # the extracted tables are materialized first, as the traced pages
    # layer does: the engine reads each of them in several branches
    # (relations also as the pushdown barrier of the exact tag filter,
    # see engine._barrier), and every branch would redo the extraction
    relations, ways, nodes = (materialize(df)[0] for df in _extract(pages))
    pts = get_public_transports(nodes, ways, relations, GAP_M, PTV2_FILTER)
    tiled = with_cells(nodes, h3_res=H3_RES, s2_level=S2_LEVEL)
    return materialize(pts)[0], materialize(tiled)[0]


def traced(layers: Layers, pages, n_pages: int, ref: dict) -> dict:
    """The job layer by layer, each public call on the previous layer's
    materialized output."""
    from osmptparser_spark.engine import filter_relations, get_public_transports
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER
    from osmptparser_spark.functions.tiling import with_cells
    from osmptparser_spark.operators.hydrate import (
        hydrate_stops, hydrated_node_rows, semi_join_ways,
    )
    from osmptparser_spark.operators.spatial import knn_join
    from osmptparser_spark.operators.stitch import stitch_node_rows_partitioned

    with layers.tracer.span("pages"):
        relations, ways, nodes = _extract(pages)
        relations = layers.call("pages", "extract_relations",
                                lambda: materialize(relations), n_pages)
        ways = layers.call("pages", "extract_ways", lambda: materialize(ways), n_pages)
        nodes = layers.call("pages", "extract_nodes", lambda: materialize(nodes), n_pages)
    n_rel, n_ways, n_nodes = relations.count(), ways.count(), nodes.count()
    with layers.tracer.span("engine"):
        rel = layers.call("tagfilter", "filter_relations",
                          lambda: materialize(filter_relations(relations, PTV2_FILTER)), n_rel)
        n_rel_f = rel.count()
        with layers.tracer.span("hydrate"):
            rel_ways = layers.call("hydrate", "semi_join_ways",
                                   lambda: materialize(semi_join_ways(ways, rel)),
                                   n_ways + n_rel_f)
            node_rows = layers.call(
                "hydrate", "hydrated_node_rows",
                lambda: materialize(hydrated_node_rows(rel, rel_ways, nodes)),
                n_rel_f + rel_ways.count() + n_nodes,
            )
            stops = layers.call("hydrate", "hydrate_stops",
                                lambda: materialize(hydrate_stops(rel, nodes)), n_rel_f + n_nodes)
        stitched = layers.call(
            "stitch", "stitch_node_rows_partitioned",
            lambda: materialize(stitch_node_rows_partitioned(node_rows, GAP_M, closed=False)),
            node_rows.count(),
        )
        pts = layers.call(
            "engine.call", "get_public_transports",
            lambda: materialize(get_public_transports(nodes, ways, relations, GAP_M, PTV2_FILTER)),
            n_rel + n_ways + n_nodes,
        )
    layers.remainder("engine", layers.metrics["engine.call"], ["tagfilter", "hydrate", "stitch"])
    tiled = layers.call("tiling", "with_cells",
                        lambda: materialize(with_cells(nodes, h3_res=H3_RES, s2_level=S2_LEVEL)),
                        n_nodes)
    q = _select_col(nodes, Q_MULT, Q_FRAC).cache()
    s = _select_col(nodes, S_MULT, S_FRAC).cache()
    n_q, n_s = q.count(), s.count()
    knn = layers.call("knn", "knn_join", lambda: materialize(knn_join(q, s, k=1)), n_q + n_s)

    m = layers.metrics
    with layers.instrument():
        out = digest((pts, tiled, knn))
        dangling = dangling_refs(rel, rel_ways, node_rows, stops)
        codes = [r[0] for r in stitched.select("status_code").collect()]
    extra = {
        "pages.input_mb": m["pages"]["input_mb"],
        "tagfilter.prefilter_keep_ratio": n_rel_f / n_rel,
        "hydrate.dangling_refs": dangling,
        "tiling.points_per_s": m["tiling"]["rows_out"] / m["tiling"]["wall_s"],
        "tiling.distinct_h3": out["tiles"][1],
        "tiling.distinct_s2": out["tiles"][2],
        "knn.pairs_per_query": m["knn"]["rows_out"] / n_q,
        **stitch_counters(codes),
    }
    return {"digest": out, "extra": extra, "not_in_job": ["knn"]}


# --- check --------------------------------------------------------------------------


def check(d: dict, ref: dict) -> list[str]:
    errors = []
    got, want = d["relations"], ref["relations"]
    if got.keys() != want.keys():
        errors.append(f"relations: {len(got.keys() - want.keys())} extra, "
                      f"{len(want.keys() - got.keys())} missing")
    bad = [k for k in want.keys() & got.keys() if list(got[k]) != list(want[k])]
    if bad:
        k = bad[0]
        errors.append(f"relations: {len(bad)} differ, e.g. {k}: {got[k]} != {want[k]}")
    if list(d["tiles"]) != list(ref["tiles"]):
        errors.append(f"tiles: {d['tiles']} != {ref['tiles']}")
    knn, seen = ref["knn"], set()
    for q, c, dist in d["knn"] or ():
        best, ties = knn.get(str(q), (None, ()))
        if best is None or str(q) in seen:
            errors.append(f"knn: unexpected or repeated query {q}")
        elif abs(dist - best) > DIST_TOL_M or c not in ties:
            errors.append(f"knn: query {q} -> {c} at {dist} m, want {ties} at {best} m")
        seen.add(str(q))
    if d["knn"] and len(seen) != len(knn):
        errors.append(f"knn: {len(knn) - len(seen & knn.keys())} queries without a result")
    return errors[:10]


def corrupt(d: dict, ref: dict) -> dict:
    """One wrong relation status: the check must reject it."""
    rel = dict(d["relations"])
    k = min(rel)
    rel[k] = [501 if rel[k][0] != 501 else 0, *rel[k][1:]]
    return {**d, "relations": rel}
