"""CLI entry point (X6 parity, bin.rs:6-84): spark-submit friendly.

    spark-submit --py-files osmptparser_spark.zip -m osmptparser_spark.cli \
        --input pages.parquet --input-format pages \
        --filter "natural=beach" --gap 150 --output out/

Mirrors the reference CLI surface: ``--filter EXPR`` (areas mode) and
``--filter-ptv2`` (routes mode) are mutually exclusive; ``--gap``
defaults to 150.0 m (bin.rs:33-39); ``--cpus 0`` means "let the cluster
decide" (Spark parallelism is the scheduler's job, kept for parity).
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("osmptparser-spark")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--filter", dest="filter_expr", help="tag filter expression")
    g.add_argument(
        "--filter-ptv2",
        action="store_true",
        help="public-transport-v2 preset filter (routes mode). NOTE: the"
        " default preset omits the reference's route_master existence"
        " term (mod.rs:151), which the reference's own fixture relations"
        " lack — pass --strict-ptv2 with it for the literal preset",
    )
    p.add_argument(
        "--strict-ptv2",
        action="store_true",
        help="with --filter-ptv2: use the reference's literal preset"
        " (adds the route_master existence term; selects a subset)",
    )
    p.add_argument("--input", required=True, help="pages parquet / .pbf path")
    p.add_argument(
        "--input-format",
        choices=["pages", "pbf", "entities"],
        default="pages",
        help="pages table, raw PBF, or pre-extracted entity parquet dir",
    )
    p.add_argument("--gap", type=float, default=150.0, help="gap tolerance meters")
    p.add_argument("--cpus", type=int, default=0, help="0 = all (parity only)")
    p.add_argument("--output", required=True, help="output dir (ndjson GeoJSON)")
    p.add_argument(
        "--profile",
        choices=["local", "cluster"],
        default="local",
        help="session conf profile (session.PROFILE_CONFS): 'cluster'"
        " sizes shuffle partitions / broadcast threshold / dynamic"
        " allocation for a 100-executor-class deployment",
    )
    return p


def load_entities(spark, args):
    """Entity tables for the pbf / entities input formats (pages input
    goes through the engine's pages entries instead)."""
    if args.input_format == "pbf":
        from .sources.pbf import read_pbf_spark

        return read_pbf_spark(spark, args.input)
    nodes = spark.read.parquet(f"{args.input}/nodes")
    ways = spark.read.parquet(f"{args.input}/ways")
    relations = spark.read.parquet(f"{args.input}/relations")
    return nodes, ways, relations


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from .engine import areas_from_pages, get_areas, get_public_transports, routes_from_pages
    from .functions.tagfilter import PTV2_FILTER, PTV2_FILTER_STRICT
    from .session import get_spark
    from .sources.geojson import area_geojson, public_transport_geojson, write_geojson

    master = f"local[{args.cpus}]" if args.cpus > 0 else None
    spark = get_spark("osmptparser-spark-cli", master=master, profile=args.profile)
    if args.filter_ptv2:
        conditions = PTV2_FILTER_STRICT if args.strict_ptv2 else PTV2_FILTER
        from_pages, from_entities = routes_from_pages, get_public_transports
        to_geojson = public_transport_geojson
    else:
        conditions = args.filter_expr
        from_pages, from_entities = areas_from_pages, get_areas
        to_geojson = area_geojson
    if args.input_format == "pages":
        # the pages entry prefilters relation lines and caches them
        out = from_pages(spark.read.parquet(args.input), args.gap, conditions)
    else:
        out = from_entities(*load_entities(spark, args), args.gap, conditions)
    write_geojson(to_geojson(out.orderBy("id")), args.output)
    return 0


if __name__ == "__main__":
    sys.exit(main())
