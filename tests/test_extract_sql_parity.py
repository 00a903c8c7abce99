"""SQL (pure Catalyst) extraction must agree with the pandas/Arrow
extraction oracle (tests/extract_oracle.py) on the reference fixture —
real OSM tags with unicode, quotes, commas — and on synthetic pages."""

import pytest

from osmptparser_spark.sources import pages as P
from tests import extract_oracle as O
from tests.fixture_util import load_entities


@pytest.fixture(scope="module")
def fixture_pages(spark):
    data = load_entities()
    return P.pages_df(
        spark, P.entities_to_pages(data["nodes"], data["ways"], data["relations"])
    ).cache()


def _rows(df, key="id"):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: d[key])


@pytest.fixture(scope="module")
def synthetic_pages(spark):
    from osmptparser_spark.sources.synth import synth_pages_spark

    return synth_pages_spark(spark, n_routes=40, routes_per_task=20).cache()


@pytest.mark.parametrize("corpus", ["fixture_pages", "synthetic_pages"])
def test_sql_equals_pandas(request, corpus):
    pages = request.getfixturevalue(corpus)
    for sql_fn, pd_fn in [
        (P.extract_nodes_sql, O.extract_nodes),
        (P.extract_ways_sql, O.extract_ways),
        (P.extract_relations_sql, O.extract_relations),
    ]:
        got = _rows(sql_fn(pages))
        want = _rows(pd_fn(pages))
        assert got and got == want, sql_fn.__name__


def test_sql_handles_pipes_inside_node_tags(spark):
    # node lines are immune to pipes in tag values (split limit)
    nodes = [{"id": 1, "lat": 1.5, "lon": 2.5, "tags": {"name": "a|b|c", "k": "v"}}]
    pages = P.pages_df(spark, P.entities_to_pages(nodes, [], []))
    row = P.extract_nodes_sql(pages).collect()[0]
    assert dict(row.tags) == {"name": "a|b|c", "k": "v"}
    row2 = O.extract_nodes(pages).collect()[0]
    assert dict(row2.tags) == dict(row.tags)


def test_pandas_path_handles_pipes_in_way_tags(spark):
    # the documented SQL-path limitation: '}|{'-free pipes still fine
    ways = [{"id": 7, "tags": {"note": "x|y"}, "info": {"k": "1"}, "refs": [1, 2]}]
    pages = P.pages_df(spark, P.entities_to_pages([], ways, []))
    for fn in (O.extract_ways, P.extract_ways_sql):
        row = fn(pages).collect()[0]
        assert dict(row.tags) == {"note": "x|y"}
        assert dict(row.info) == {"k": "1"}
        assert list(row.refs) == [1, 2]


def test_extraction_empty_map_fast_path(spark):
    # the SQL path's `{}` fast path on a mixed empty/non-empty tag corpus
    nodes = [
        {"id": 1, "lat": 1.0, "lon": 2.0, "tags": {}},
        {"id": 2, "lat": 3.0, "lon": 4.0, "tags": {"name": "a|b", "x": "{}"}},
        {"id": 3, "lat": 5.0, "lon": 6.0, "tags": {"ünï": "çøde"}},
    ]
    pages = P.pages_df(spark, P.entities_to_pages(nodes, [], [], 2))
    got = sorted(
        (r["id"], r["lat"], r["lon"], dict(r["tags"]))
        for r in P.extract_nodes_sql(pages).collect()
    )
    want = sorted(
        (r["id"], r["lat"], r["lon"], dict(r["tags"]))
        for r in O.extract_nodes(pages).collect()
    )
    assert got == want
    assert got[0][3] == {} and got[1][3] == {"name": "a|b", "x": "{}"}
