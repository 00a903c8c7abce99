"""Partition-level pandas stitch stage (G1-G9 as mapInPandas).

The reference runs ``flatten_ways`` per relation on a work-stealing
thread pool (mod.rs:532-576). Here the hydrated node rows are
repartitioned by ``rel_id`` and sorted within partitions, and one
``mapInPandas`` call stitches every relation of an Arrow batch —
parallelism across relations is Spark task scheduling, and the
sequential greedy heuristic (``stitch_core.flatten``, the scalar
reference) runs on plain Python tuples inside the worker.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from . import stitch_core as sc

STITCH_SCHEMA = (
    "rel_id BIGINT, "
    "geometry ARRAY<ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>>, "
    "node_seq ARRAY<ARRAY<BIGINT>>, "
    "status_code INT, status_detail STRING"
)


def _stitch_many(pdf: pd.DataFrame, gap_m: float, closed: bool) -> pd.DataFrame:
    """Stitch every relation inside one pandas frame.

    Round-6 rework: ONE whole-frame lexsort + numpy boundary splits +
    C-level ``.tolist()``/``zip`` way assembly, with results
    accumulated into plain column lists and ONE output DataFrame per
    call. The previous shape paid a per-relation ``pdf.iloc`` slice, a
    per-relation one-row ``pd.DataFrame``, and a ``pd.concat`` over
    every relation in the partition — measured as the dominant cost of
    the whole stitch stage at 40k relations (python-side object churn,
    not stitching)."""
    import numpy as np

    if len(pdf) == 0:
        return pd.DataFrame(
            columns=["rel_id", "geometry", "node_seq", "status_code", "status_detail"]
        )
    rel = pdf["rel_id"].to_numpy()
    wp = pdf["way_pos"].to_numpy()
    npos = pdf["node_pos"].to_numpy()
    order = np.lexsort((npos, wp, rel))
    rel = rel[order]
    wp = wp[order]
    ids_l = pdf["node_id"].to_numpy()[order].tolist()
    lats_l = pdf["lat"].to_numpy()[order].tolist()
    lons_l = pdf["lon"].to_numpy()[order].tolist()
    # way boundaries: change of rel_id OR way_pos; rel boundaries subset
    rel_change = rel[1:] != rel[:-1]
    way_bounds = np.flatnonzero(rel_change | (wp[1:] != wp[:-1])) + 1
    rel_bounds = np.flatnonzero(rel_change) + 1
    w_starts = np.concatenate([[0], way_bounds])
    w_ends = np.concatenate([way_bounds, [len(rel)]])
    # index of the first way of each relation within w_starts
    rel_first_way = np.searchsorted(w_starts, np.concatenate([[0], rel_bounds]))
    rel_last_way = np.concatenate([rel_first_way[1:], [len(w_starts)]])
    out_rel, out_geom, out_seq, out_code, out_detail = [], [], [], [], []
    for wf, wl in zip(rel_first_way, rel_last_way):
        ways = [
            list(zip(ids_l[a:b], lats_l[a:b], lons_l[a:b]))
            for a, b in zip(w_starts[wf:wl], w_ends[wf:wl])
        ]
        geom, (code, detail) = sc.flatten(ways, gap_m, closed)
        out_rel.append(int(rel[w_starts[wf]]))
        out_geom.append(
            [[{"lon": n[2], "lat": n[1]} for n in seg] for seg in geom]
        )
        out_seq.append([[n[0] for n in seg] for seg in geom])
        out_code.append(code)
        out_detail.append(detail)
    return pd.DataFrame(
        {
            "rel_id": pd.Series(out_rel, dtype="int64"),
            "geometry": out_geom,
            "node_seq": out_seq,
            "status_code": pd.Series(out_code, dtype="int32"),
            "status_detail": out_detail,
        }
    )


def stitch_node_rows_partitioned(
    node_rows: DataFrame, gap_m: float, closed: bool
) -> DataFrame:
    """Throughput-shape stitch: repartition by rel_id + sort within
    partitions + mapInPandas, so one python worker call processes a
    whole partition of relations (vs one call per relation with
    applyInPandas). A relation's rows can span Arrow batch boundaries
    inside a partition, so the last (possibly incomplete) group of each
    batch is carried into the next."""

    parts = node_rows.repartition("rel_id").sortWithinPartitions(
        "rel_id", "way_pos", "node_pos"
    )

    def gen(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last_rel = pdf["rel_id"].iloc[-1]
            complete = pdf[pdf["rel_id"] != last_rel]
            carry = pdf[pdf["rel_id"] == last_rel]
            if len(complete):
                yield _stitch_many(complete, gap_m, closed)
        if carry is not None and len(carry):
            yield _stitch_many(carry, gap_m, closed)

    return parts.mapInPandas(gen, STITCH_SCHEMA)
