"""Synthetic geo generator: determinism, block disjointness, and the
planted stitch-status mix (exercises every cascade branch at scale)."""

from collections import Counter

import pytest

from osmptparser_spark.operators import stitch_core as sc
from osmptparser_spark.sources.synth import synth_geo_entities, synth_pages_spark


def _statuses(n_routes=300, seed=42):
    nodes, ways, rels = synth_geo_entities(n_routes=n_routes, seed=seed)
    nmap = {n["id"]: n for n in nodes}
    wmap = {w["id"]: w for w in ways}
    c = Counter()
    for r in rels:
        hyd = [
            [(nid, nmap[nid]["lat"], nmap[nid]["lon"]) for nid in wmap[wid]["refs"]]
            for wid in r["way_refs"]
        ]
        _, st = sc.flatten(hyd, 150.0, False)
        c[st[0]] += 1
    return c


def test_status_mix_covers_all_cascade_branches():
    c = _statuses()
    assert set(c) == {0, 101, 102, 501}
    assert c[0] > c[101] + c[102] + c[501]


def test_determinism():
    a = synth_geo_entities(n_routes=50, seed=7)
    b = synth_geo_entities(n_routes=50, seed=7)
    assert a == b


def test_spark_generator_blocks_disjoint_and_deterministic(spark):
    df = synth_pages_spark(spark, n_routes=120, routes_per_task=50)
    rows = df.collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls))
    from osmptparser_spark.sources.pages import extract_relations_sql

    rels = extract_relations_sql(df)
    assert rels.count() == 120
    assert rels.select("id").distinct().count() == 120
    again = synth_pages_spark(spark, n_routes=120, routes_per_task=50).collect()
    assert sorted(r.url for r in again) == sorted(urls)
