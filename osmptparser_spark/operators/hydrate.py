"""Semi-join (J1), node filtering (J2) and order-preserving relation
hydration (J3).

The reference builds global id-sets behind RwLocks across three file
passes (mod.rs:178-179) and probes hash maps per ref (mod.rs:664-702).
Spark-first equivalents:

* J1 is a LEFT SEMI join on the exploded way-member id set. Catalyst
  picks broadcast-hash when the distinct id set is small and falls back
  to shuffle semi-join (+ runtime Bloom filter pushdown) at scale — the
  same cascaded filter effect as the reference's 3-pass scan, without
  re-reading the source.
* J2 needs no id set of its own: the INNER node joins of the hydration
  below (way-node refs in ``hydrated_node_rows`` /
  ``single_way_node_rows``, stop refs in ``hydrate_stops``) keep exactly
  the referenced nodes.
* J3 (hydration) preserves member order without per-row Python:
  ``posexplode`` keeps the ordinals and inner joins drop dangling refs
  (mod.rs:672,680 semantics). The flat (rel_id, way_pos, node_pos, id,
  lat, lon) rows — a few dozen bytes per node ref — go straight to the
  stitch stage, whose repartition by rel_id is the one wide shuffle of
  the core pipeline. Stops regroup with ``array_sort`` on the ordinal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def relation_way_ids(relations: DataFrame) -> DataFrame:
    """Distinct way ids referenced by any relation (build side of J1)."""
    return relations.select(F.explode("way_refs").alias("id")).distinct()


def semi_join_ways(ways: DataFrame, relations: DataFrame) -> DataFrame:
    """J1: keep only ways that are members of a surviving relation."""
    return ways.join(relation_way_ids(relations), "id", "left_semi")


def hydrated_node_rows(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """J3, fused form: the exploded (rel_id, way_pos, node_pos, node_id,
    lat, lon) rows with dangling refs dropped — no regroup shuffle; the
    stitch stage partitions by rel_id and rebuilds way order from
    (way_pos, node_pos)."""
    rel_ways = relations.select(
        F.col("id").alias("rel_id"),
        F.posexplode("way_refs").alias("way_pos", "way_id"),
    ).join(
        ways.select(F.col("id").alias("way_id"), "refs"),
        "way_id",
        "inner",
    )
    return rel_ways.select(
        "rel_id",
        "way_pos",
        F.posexplode("refs").alias("node_pos", "node_id"),
    ).join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon"),
        "node_id",
        "inner",
    ).select("rel_id", "way_pos", "node_pos", "node_id", "lat", "lon")


def single_way_node_rows(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Flat (rel_id=way id, way_pos=0, node_pos, node_id, lat, lon) rows
    for standalone filter-matched ways (area branch, mod.rs:596-647) —
    the input shape of ``stitch_node_rows_partitioned``: each way is a
    one-way group keyed by its own id."""
    return ways.select(
        F.col("id").alias("rel_id"),
        F.lit(0).alias("way_pos"),
        F.posexplode("refs").alias("node_pos", "node_id"),
    ).join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon"),
        "node_id",
        "inner",
    ).select("rel_id", "way_pos", "node_pos", "node_id", "lat", "lon")


def hydrate_stops(relations: DataFrame, nodes: DataFrame) -> DataFrame:
    """Ordered stop-node hydration: one row per relation with
    stops ARRAY<STRUCT<id,lat,lon,tags>> in member order, dangling
    refs dropped (mod.rs:690-700)."""
    stops = relations.select(
        F.col("id").alias("rel_id"),
        F.posexplode("stop_refs").alias("stop_pos", "node_id"),
    ).join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon", "tags"),
        "node_id",
        "inner",
    )
    # struct contains a MAP (not orderable) -> sort with a comparator
    # on the ordinal instead of natural struct ordering
    return (
        stops.groupBy("rel_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("stop_pos", "node_id", "lat", "lon", "tags")
                ),
                lambda l, r: F.when(l["stop_pos"] < r["stop_pos"], -1)
                .when(l["stop_pos"] > r["stop_pos"], 1)
                .otherwise(0),
            ).alias("s")
        )
        .select(
            "rel_id",
            F.transform(
                "s",
                lambda x: F.struct(
                    x["node_id"].alias("id"),
                    x["lat"].alias("lat"),
                    x["lon"].alias("lon"),
                    x["tags"].alias("tags"),
                ),
            ).alias("stops"),
        )
    )
