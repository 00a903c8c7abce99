"""High-level engine API: the reference's three entry points, Spark-first.

``get_public_transports`` == Parser::get_public_transports (mod.rs:511-527),
``get_areas`` == Parser::get_areas (mod.rs:580-654), over entity
DataFrames from any source (PBF, pages extraction, parquet). Output is
deterministic relative to the reference's thread-nondeterministic
ordering: callers sort explicitly (the reference's own test sorts too,
tests/integration_test.rs:7-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.tagfilter import compile_tag_filter, line_prefilter
from .operators.hydrate import (
    hydrate_stops,
    hydrated_node_rows,
    semi_join_ways,
    single_way_node_rows,
)
from .operators.stitch import stitch_node_rows_partitioned as stitch_node_rows
from .sources.pages import extract_nodes_sql, extract_relations_sql, extract_ways_sql

_EMPTY_GEOM = "CAST(array() AS ARRAY<ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>>)"
_EMPTY_SEQ = "CAST(array() AS ARRAY<ARRAY<BIGINT>>)"
_EMPTY_STOPS = (
    "CAST(array() AS ARRAY<STRUCT<id: BIGINT, lat: DOUBLE, lon: DOUBLE, "
    "tags: MAP<STRING,STRING>>>)"
)
_AREA_COLS = [
    "id", "id_type", "tags", "info", "geometry", "node_seq",
    "status_code", "status_detail",
]


def filter_relations(relations: DataFrame, conditions: str) -> DataFrame:
    """F1 + F3: tag-predicate filter plus drop relations with no way
    members (mod.rs:253-257)."""
    return relations.filter(compile_tag_filter(conditions)).filter(
        F.size("way_refs") > 0
    )


def filter_ways(ways: DataFrame, conditions: str) -> DataFrame:
    """F2 + F4: tag-predicate filter plus drop ways with no node refs
    (mod.rs:380-387)."""
    return ways.filter(compile_tag_filter(conditions)).filter(F.size("refs") > 0)


def _finalize(relations: DataFrame, stitched: DataFrame, stops: DataFrame | None):
    """Join stitch results (and stops) back onto relation metadata.

    LEFT joins: a relation whose member ways all dangled produces no
    stitch group; the reference's flatten_ways on an empty list yields
    501 Broken + empty geometry (relation.rs:233-235) — coalesce
    reproduces that.
    """
    out = relations.select("id", "tags", "info").join(
        stitched.withColumnRenamed("rel_id", "id"), "id", "left"
    )
    if stops is not None:
        out = out.join(stops.withColumnRenamed("rel_id", "id"), "id", "left")
        out = out.withColumn("stops", F.coalesce("stops", F.expr(_EMPTY_STOPS)))
    return (
        out.withColumn("geometry", F.coalesce("geometry", F.expr(_EMPTY_GEOM)))
        .withColumn("node_seq", F.coalesce("node_seq", F.expr(_EMPTY_SEQ)))
        .withColumn("status_code", F.coalesce("status_code", F.lit(501)))
        .withColumn("status_detail", F.coalesce("status_detail", F.lit("Broken")))
    )


def _relation_leg(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    gap_m: float,
    conditions: str | None,
    closed: bool,
) -> DataFrame:
    """filter -> semi-join -> hydrate -> stitch -> finalize for relation
    geometry; route mode (``closed=False``) also hydrates the stops."""
    if conditions:
        rel = filter_relations(relations, conditions)
    else:
        rel = relations.filter(F.size("way_refs") > 0)
    rel_ways = semi_join_ways(ways, rel)
    stitched = stitch_node_rows(hydrated_node_rows(rel, rel_ways, nodes), gap_m, closed)
    return _finalize(rel, stitched, None if closed else hydrate_stops(rel, nodes))


def _way_area_leg(
    nodes: DataFrame, ways: DataFrame, gap_m: float, conditions: str | None
) -> DataFrame:
    """Standalone filter-matched ways as closed rings (mod.rs:596-647):
    each way is a one-way stitch group keyed by its own id."""
    if conditions:
        std_ways = filter_ways(ways, conditions)
    else:
        std_ways = ways.filter(F.size("refs") > 0)
    stitched = stitch_node_rows(single_way_node_rows(std_ways, nodes), gap_m, closed=True)
    return _finalize(std_ways.select("id", "tags", "info"), stitched, None)


def _areas(
    nodes: DataFrame,
    member_ways: DataFrame,
    area_ways: DataFrame,
    relations: DataFrame,
    gap_m: float,
    conditions: str | None,
) -> DataFrame:
    """Relation areas (id_type 'r', members looked up in
    ``member_ways``) union way areas (id_type 'w', from ``area_ways``)."""
    rel_areas = _relation_leg(nodes, member_ways, relations, gap_m, conditions, closed=True)
    way_areas = _way_area_leg(nodes, area_ways, gap_m, conditions)
    return rel_areas.withColumn("id_type", F.lit("r")).select(*_AREA_COLS).unionByName(
        way_areas.withColumn("id_type", F.lit("w")).select(*_AREA_COLS)
    )


def _pages_entities(pages: DataFrame, conditions: str | None):
    """Extract (nodes, ways, relations) from pages with the tag filter
    pushed down as a sound string prefilter on raw relation lines (it
    may only over-select; the exact map filter runs after parsing).

    The prefiltered relations are cached: three consumers reuse them,
    and the cache is a pushdown barrier — without it Catalyst merges the
    exact from_json filter into the line-scan predicate and evaluates
    it for EVERY line before the cheap string conjuncts can reject it
    (measured: 240 s -> ~20 s on 80k pages at local[16]). MEMORY
    CONTRACT: the cache holds the PREFILTERED relation table —
    O(filter-matched relations), never O(pages)
    (test_spark_pipeline.py::test_cache_barrier_contract asserts the
    measured size)."""
    pre = line_prefilter(conditions) if conditions else None
    relations = extract_relations_sql(pages, line_filter=pre).cache()
    return extract_nodes_sql(pages), extract_ways_sql(pages), relations, pre


def routes_from_pages(
    pages: DataFrame, gap_m: float = 150.0, conditions: str | None = None
) -> DataFrame:
    """pages -> extract -> :func:`get_public_transports`."""
    nodes, ways, relations, _ = _pages_entities(pages, conditions)
    return get_public_transports(nodes, ways, relations, gap_m, conditions)


def areas_from_pages(
    pages: DataFrame, gap_m: float = 150.0, conditions: str | None = None
) -> DataFrame:
    """pages -> extract -> :func:`get_areas`, with the same string
    prefilter on the way lines that feed the way-area branch (relation
    members are still looked up in the unfiltered ways)."""
    nodes, ways, relations, pre = _pages_entities(pages, conditions)
    area_ways = extract_ways_sql(pages, line_filter=pre)
    return _areas(nodes, ways, area_ways, relations, gap_m, conditions)


def par_map(df: DataFrame, fn, schema: str) -> DataFrame:
    """Parity convenience for the reference's ``par_map(custom_fn)``
    (mod.rs:532-576: apply an arbitrary user function to every parsed
    entity on a worker pool). Spark-first translation: any DataFrame
    transformation IS the equivalent; this wrapper covers the
    imperative case — a per-row Python function — by running it inside
    ``mapInPandas`` (Arrow batches, executor-parallel, no driver
    collect). ``fn``: dict -> dict; ``schema``: output DDL.

    Prefer built-in column expressions whenever the function is
    expressible — this wrapper is the slow path by design.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([fn(row) for row in pdf.to_dict("records")])

    return df.mapInPandas(gen, schema)


def iter_rows(df: DataFrame, order_by: str = "id"):
    """X4 parity (mod.rs:737-742): sequential driver-side iteration,
    deterministic order (the reference's iterator order is insertion
    order; ours is explicit)."""
    return df.orderBy(order_by).toLocalIterator()


def get_public_transports(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    gap_m: float = 150.0,
    conditions: str | None = None,
) -> DataFrame:
    """Route mode (closed=False): one row per relation with stops,
    multi-linestring geometry (lon,lat), and parse status.

    ``conditions`` optionally applies the F1 tag filter here; pass
    pre-filtered relations otherwise.
    """
    return _relation_leg(nodes, ways, relations, gap_m, conditions, closed=False)


def get_areas(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    gap_m: float = 150.0,
    conditions: str | None = None,
) -> DataFrame:
    """Area mode: relation areas (id_type 'r') union standalone
    filter-matched way areas (id_type 'w'), rings closed within
    tolerance (mod.rs:580-654)."""
    return _areas(nodes, ways, ways, relations, gap_m, conditions)
