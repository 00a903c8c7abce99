"""Similarity search over embedding columns (ARRAY<FLOAT>).

Brute-force cosine top-k is the exactness baseline; the scale path is
LSH bucketing with seeded random hyperplanes (signature equi-join, the
same shuffle shape as every other candidate-generation join in this
engine) plus a window top-k, with recall measured against brute force
in tests. All three operators score pairs with the one Arrow cosine
kernel ``_cosine``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window


@F.pandas_udf(DoubleType())
def _cosine(qv: pd.Series, cv: pd.Series) -> pd.Series:
    """Cosine of each row's vector pair, one numpy pass per Arrow batch:
    products in the stored precision (float32), sums and norms in
    float64."""
    if len(qv) == 0:
        return pd.Series([], dtype="float64")
    Q = np.stack(qv.to_numpy())
    C = np.stack(cv.to_numpy())
    dot = (Q * C).sum(axis=1, dtype=np.float64)
    nq = np.sqrt((Q * Q).sum(axis=1, dtype=np.float64))
    nc = np.sqrt((C * C).sum(axis=1, dtype=np.float64))
    return pd.Series(dot / (nq * nc))


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (crossJoin + window).
    O(Q*C): use for small query sets or as the verification oracle.
    The query set is the broadcast side; the candidate table, the
    unbounded one, is never broadcast."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = candidates.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos_sim", _cosine(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos_sim", "rank")
    )


def _hyperplane_udf(dim: int | None, planes: int, tables: int, seed: int):
    """Random-hyperplane signature UDF. ``dim`` may be None: the plane
    matrix is then generated lazily from the first batch's vector length
    — seeded, so every worker derives the identical matrix, and no
    driver-side ``.first()`` job runs before the main plan."""
    state: dict = {"H": None if dim is None else _planes(dim, planes, tables, seed)}

    @F.pandas_udf("array<bigint>")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        H = state["H"]
        if H is None or H.shape[2] != M.shape[1]:
            H = state["H"] = _planes(M.shape[1], planes, tables, seed)
        out = []
        sigs = np.einsum("tpd,nd->ntp", H, M) > 0  # (n, tables, planes)
        weights = 1 << np.arange(planes, dtype=np.int64)
        codes = (sigs * weights).sum(axis=2)  # (n, tables)
        for row in codes:
            out.append(row.astype(np.int64).tolist())
        return pd.Series(out)

    return sig


def _planes(dim: int, planes: int, tables: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(tables, planes, dim))


def ann_lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    dim: int | None = None,
    planes: int = 12,
    tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures -> (table, code)
    bucket equi-join -> exact cosine on candidates -> window top-k.
    ``dim`` is optional; when omitted the signature UDF infers it from
    the data lazily (no extra driver job)."""
    sig = _hyperplane_udf(dim, planes, tables, seed)
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"), sig(vec_col).alias("s")
    ).select("qid", "qv", F.posexplode("s").alias("table", "code"))
    c = candidates.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), sig(vec_col).alias("s")
    ).select("cid", "cv", F.posexplode("s").alias("table", "code"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        q.join(c, ["table", "code"])
        .filter(F.col("qid") != F.col("cid"))
        .dropDuplicates(["qid", "cid"])
        .withColumn("cos_sim", _cosine(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int = 14,
    tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= threshold) via LSH
    candidates + exact verification; high-threshold pairs collide in
    some table with high probability. Vector dim is inferred lazily
    inside the signature UDF (no driver job)."""
    sig = _hyperplane_udf(None, planes, tables, seed)
    e = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), sig(vec_col).alias("s")
    ).select("vid", "v", F.posexplode("s").alias("table", "code"))
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cos_sim", _cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    return pairs
