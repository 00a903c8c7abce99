"""Replicates the driver's correctness gate locally: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row counts and order-insensitive values exactly; and
check that every entry outside the relational substrate runs library
code, so the oracle verifies what ships."""

import ast
import inspect

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Entries that check a relational shape built from Spark built-ins
#: (filters, joins, aggregates, windows) rather than a library function.
#: f1 and w7 have library-backed twins: x5_preset_filter and knn_geo.
#: COVERAGE.md labels the same set.
RELATIONAL_SUBSTRATE = frozenset(
    {
        "f1_tag_filter",
        "f6_point_lookup",
        "j1_semi_join",
        "j2_anti_join",
        "j3_order_preserving_regroup",
        "a2_distinct_union",
        "a3_group_agg",
        "a4_rollup",
        "x1_topk_window",
        "w5_cell_join",
        "w7_knn_topk",
        "text_token_count",
        "events_hourly",
    }
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rows(rows):
    # null-safe sort key (NULLs first), like the driver's compare
    return sorted(
        (tuple(_norm(v) for v in r) for r in rows),
        key=lambda t: tuple((v is not None, str(type(v)), v) for v in t),
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    sdf = q(spark, SF_DIR)
    if sql is None:
        assert sdf.count() >= 0  # rows-only check
        return
    spark_cols = sorted(sdf.columns)
    got = _rows(
        [tuple(r[c] for c in spark_cols) for r in sdf.collect()]
    )
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    assert sorted(duck_cols) == spark_cols, f"column names differ for {name}"
    order = [duck_cols.index(c) for c in spark_cols]
    want = _rows([tuple(row[i] for i in order) for row in res.fetchall()])
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    first_diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
    assert got == want, f"{name}: values differ (first diff: {first_diff})"


def _imports_library(node) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(
            "osmptparser_spark"
        ):
            return True
        if isinstance(n, ast.Import) and any(
            a.name.startswith("osmptparser_spark") for a in n.names
        ):
            return True
    return False


def test_every_query_reaches_the_library():
    """An entry reaches ``osmptparser_spark`` when its body, or a
    ``_``-helper it calls (transitively), imports from it. Exactly the
    relational-substrate entries do not."""
    tree = ast.parse(inspect.getsource(entry_mod))
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def reaches(name, seen):
        if name in seen:
            return False
        seen.add(name)
        fn = funcs[name]
        if _imports_library(fn):
            return True
        helpers = {
            n.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Name) and n.id.startswith("_") and n.id in funcs
        }
        return any(reaches(h, seen) for h in helpers)

    raw = {
        name
        for name, fn in entry_mod.queries().items()
        if not reaches(fn.__name__, set())
    }
    assert raw == RELATIONAL_SUBSTRATE


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["rank", "n_name", "n_orders", "revenue"]


def test_simhash_oracle_is_a_real_recomputation(duck):
    """The simhash oracle must recompute the hash pipeline (not just
    predict the planted construction): its output contains NONZERO
    hamming values, and its HUGEINT token-hash arithmetic matches the
    numpy path bit-for-bit."""
    import numpy as np

    from osmptparser_spark.operators.dedup import _segment_hashes

    rows = duck.execute(entry_mod.oracle_sql()["simhash_near_dup"]).fetchall()
    hams = [h for _, _, h in rows]
    assert any(h > 0 for h in hams), "cohort degenerated to exact dups"
    assert all(h <= 3 for h in hams)

    # token-hash parity: extract the mulmod/splitmix scaffolding by
    # running the oracle's own CTEs over fixed tokens
    sql = entry_mod._simhash_oracle_sql()
    head, _, _ = sql.partition("base AS (")
    probe = (
        head
        + "toks2(tok) AS (VALUES ('hello'), ('zz'), ('a'), ('merge')), "
        + """
        chars AS (
            SELECT tok, i, ascii(substring(tok, CAST(i AS INT), 1)) AS byte,
                   length(tok) AS L
            FROM toks2, unnest(generate_series(1, length(tok))) AS u(i)
        ),
        ph AS (
            SELECT tok,
                   CAST(sum((CAST(byte AS HUGEINT) * p)
                        % 18446744073709551616) % 18446744073709551616
                        AS HUGEINT) AS h0
            FROM chars JOIN powers ON powers.e = L - i GROUP BY tok
        )
        SELECT tok, h0 FROM ph
        """
    )
    got = dict(duck.execute(probe).fetchall())
    for tok, h0 in got.items():
        buf = np.frombuffer(tok.encode(), dtype=np.uint8)
        # undo the splitmix to compare the raw polynomial: instead,
        # recompute the raw polynomial directly in numpy
        B = np.uint64(0x100000001B3)
        with np.errstate(over="ignore"):
            acc = np.uint64(0)
            for b in buf:
                acc = acc * B + np.uint64(b)
        assert int(acc) == int(h0), tok
