"""Round-6 optimization guards: the reworked internals must be
bit/row-identical to their reference formulations.

* ``_stitch_many`` column-accumulator rework vs per-relation
  ``stitch_core.flatten`` (the scalar reference);
* extraction ``{}`` fast path on a mixed empty/non-empty tag corpus.

(The simhash and minhash-verify guards live in test_dedup_similarity.py.)
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def test_stitch_many_matches_per_group():
    from osmptparser_spark.operators import stitch_core as sc
    from osmptparser_spark.operators.stitch import _stitch_many

    rng = np.random.default_rng(3)
    rows = []
    for rel in range(7):
        for wp in range(int(rng.integers(1, 4))):
            for np_ in range(int(rng.integers(2, 6))):
                rows.append(
                    {
                        "rel_id": rel,
                        "way_pos": wp,
                        "node_pos": np_,
                        "node_id": int(rng.integers(0, 10_000)),
                        "lat": float(rng.uniform(-1, 1)),
                        "lon": float(rng.uniform(-80, -79)),
                    }
                )
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=5)  # scramble
    got = _stitch_many(pdf, 150.0, False).sort_values("rel_id")

    ordered = pdf.iloc[np.lexsort((pdf["node_pos"], pdf["way_pos"], pdf["rel_id"]))]
    want = []
    for rel, g in ordered.groupby("rel_id", sort=True):
        ways = [
            list(zip(w["node_id"], w["lat"], w["lon"]))
            for _, w in g.groupby("way_pos", sort=True)
        ]
        geom, (code, detail) = sc.flatten(ways, 150.0, False)
        want.append(
            (
                rel,
                [[{"lon": n[2], "lat": n[1]} for n in seg] for seg in geom],
                [[n[0] for n in seg] for seg in geom],
                code,
                detail,
            )
        )
    assert list(got["rel_id"]) == [w[0] for w in want]
    for i, col in enumerate(["geometry", "node_seq", "status_code", "status_detail"], 1):
        assert list(got[col]) == [w[i] for w in want], col


def test_extraction_empty_map_fast_path(spark):
    from osmptparser_spark.sources.pages import (
        entities_to_pages,
        extract_nodes_sql,
        pages_df,
    )
    from tests.extract_oracle import extract_nodes

    nodes = [
        {"id": 1, "lat": 1.0, "lon": 2.0, "tags": {}},
        {"id": 2, "lat": 3.0, "lon": 4.0, "tags": {"name": "a|b", "x": "{}"}},
        {"id": 3, "lat": 5.0, "lon": 6.0, "tags": {"ünï": "çøde"}},
    ]
    pages = pages_df(spark, entities_to_pages(nodes, [], [], 2))
    got = sorted(
        (r["id"], r["lat"], r["lon"], dict(r["tags"]))
        for r in extract_nodes_sql(pages).collect()
    )
    want = sorted(
        (r["id"], r["lat"], r["lon"], dict(r["tags"]))
        for r in extract_nodes(pages).collect()
    )
    assert got == want
    assert got[0][3] == {} and got[1][3] == {"name": "a|b", "x": "{}"}


def test_pentagon_rotation_order():
    """ADVICE r5 (medium): the pentagon encode tail must run the
    leading-K fix BEFORE the base-cell ccw rotations, and those
    rotations must be the pentagon-aware _h3RotatePent60ccw. Pinned by
    hand-composed digit paths (_ROT_CCW: K->IK->I->IJ->J->JK)."""
    from osmptparser_spark.functions.h3compat import (
        apply_base_cell_rotations,
        rotate_digits_pent60_ccw,
    )

    # leading K (1) with ccw pre-fix: [1,0,2] -ccw-> [5,0,3], then one
    # pent60ccw: 5->4 (leading, not K), 0->0, 3->1 => [4,0,1].
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=True, ccw_rots=1, cw_offset_face=False
    ) == [4, 0, 1]
    # the OLD (buggy) order — plain ccw rots first, then the K check on
    # the rotated path — would have produced [5,0,3]; pin the difference
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=True, ccw_rots=1, cw_offset_face=False
    ) != [5, 0, 3]
    # cw-offset face: the pre-fix rotates CW: [1,0,2] -cw-> [3,0,6],
    # then pent60ccw: 3->1 (leading IS K -> extra full ccw of [1,0,6]
    # => [5,0,2]), continue: 0->0, 2->3 => [5,0,3].
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=True, ccw_rots=1, cw_offset_face=True
    ) == [5, 0, 3]
    # inner re-rotation of pent60ccw alone: [3,2]: 3->1 (K! extra full
    # ccw of [1,2] => [5,3]), continue at pos 1: 3->1 => [5,1]
    assert rotate_digits_pent60_ccw([3, 2]) == [5, 1]
    # hexagon path unchanged: plain ccw rotations
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=False, ccw_rots=1, cw_offset_face=False
    ) == [5, 0, 3]
    # zero rotations + non-K leading digit: untouched for pentagons too
    assert apply_base_cell_rotations(
        [2, 1], pent=True, ccw_rots=0, cw_offset_face=False
    ) == [2, 1]


def test_emb_cosine_udf_matches_hof_formulation(spark):
    """The vectorized cosine must rank identically to the JVM
    higher-order-function chain it replaced, on adversarially close
    vectors."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=8).astype(np.float32)
    rows = []
    for i in range(30):
        v = base + rng.normal(scale=1e-3, size=8).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = df.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda s, x: s + x * x)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    hof = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", dot / (norm(F.col("qv")) * norm(F.col("cv"))))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "cid", "rank")
    )
    import __spark_entry__ as entry_mod

    @F.pandas_udf("double")
    def cosb(qv: pd.Series, cv: pd.Series) -> pd.Series:
        Q = np.stack(qv.to_numpy())
        C = np.stack(cv.to_numpy())
        prod = Q * C
        d = prod.sum(axis=1, dtype=np.float64)
        nq = np.sqrt((Q * Q).sum(axis=1, dtype=np.float64))
        nc = np.sqrt((C * C).sum(axis=1, dtype=np.float64))
        return pd.Series(d / (nq * nc))

    vec = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", cosb(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "cid", "rank")
    )
    assert sorted(map(tuple, hof.collect())) == sorted(map(tuple, vec.collect()))
