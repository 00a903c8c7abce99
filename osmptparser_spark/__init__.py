"""osmptparser_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query/data-processing capabilities of
``cualbondi/osmptparser`` (reference at /root/reference, Rust) on Apache
Spark DataFrames: tag-predicate filters, semi-joins, order-preserving
relation hydration, the greedy way-stitching / gap-fix heuristic
(a partition-level pandas UDF), H3/S2 tiling, cell-keyed spatial joins,
point-in-polygon, kNN, raster<->vector aggregation, plus web-scale text-pipeline
operators (dedup, similarity search, language-ID, quality scoring).

Architecture is Spark-first: logical plans are declared with the
DataFrame API and optimized by Catalyst/AQE; Python only runs inside
Arrow-batched pandas UDFs (never per-row).
"""

__version__ = "0.1.0"
