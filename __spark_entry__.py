"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` pair each implemented operator family
from SURVEY.md §2 with a DuckDB-checkable twin over the driver's
testdata tables. Types are chosen for exact cross-engine matching:
integers, strings, and DECIMAL-cast aggregates (double sums are
order-dependent; decimal sums are exact).

Geo operators whose semantics DuckDB cannot express (stitch cascade,
H3/S2 tiling, PBF decode) are covered by pytest goldens in tests/ and
appear here as rows-only entries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue-by-nation with broadcast dims, semi-join
    pruning and a top-k window — the relational core the geo pipeline
    rides on (scan -> filter -> semi/broadcast joins -> agg -> window).
    """
    sf_dir = "/root/testdata/sf0.001"
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    lineitem = _t(spark, sf_dir, "lineitem")

    revenue = (
        lineitem.withColumn(
            "rev",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            ),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("order_rev"))
    )
    df = (
        orders.join(revenue, orders.o_orderkey == revenue.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("order_rev").alias("revenue"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("revenue").desc(), F.col("n_name"))
            ).cast("long"),
        )
        .select("rank", "n_name", "n_orders", F.col("revenue").cast("string").alias("revenue"))
    )
    return df


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------


def _q_f1_tag_filter(spark, sf_dir):
    # F1/F2 (mod.rs:88-144): tag-bag predicate `k=69,89` over the
    # dynamic JSON props map; missing key rejects the row.
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.filter(k.isNotNull() & k.isin("69", "89")).select(
        "event_id", "event_type", k.alias("k_val")
    )


def _q_f6_point_lookup(spark, sf_dir):
    # F6 (mod.rs:657-661): point lookup by id -> partition/file pruning.
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isin(42, 4242, 9999))
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


def _q_j1_semi_join(spark, sf_dir):
    # J1 (mod.rs:288-296): left-semi join, ways-in-relation-set analogue.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def _q_j2_anti_join(spark, sf_dir):
    # complement of J2's probe: rows NOT referenced (engine completeness).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


def _q_j3_order_preserving_regroup(spark, sf_dir):
    # J3 (mod.rs:664-702): posexplode+join+array_sort hydration pattern —
    # here: per-order part sequence ordered by line number.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("l_linenumber", "l_partkey"))
                    ),
                    lambda x: x["l_partkey"].cast("string"),
                ),
                ",",
            ).alias("part_seq"),
            F.count("*").alias("n_items"),
        )
        .select("l_orderkey", "part_seq", "n_items")
    )


def _q_a2_distinct_union(spark, sf_dir):
    # A2 (mod.rs:286-297): per-worker partial union + DISTINCT id sets.
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.unionByName(s).distinct()


def _q_a3_group_agg(spark, sf_dir):
    # A3 (mod.rs:745-770): count/sum aggregation (Q1-style); decimal
    # sums for cross-engine exactness.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("string")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("string")
            .alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "cnt", "sum_qty", "sum_price")
    )


def _q_x1_topk_window(spark, sf_dir):
    # W7's top-k-per-key pattern on relational data: row_number window.
    # Round 6: a two-phase salted top-k (local top-10 per 64-way salt,
    # then this window over survivors) was implemented, oracle-verified
    # and MEASURED — no win (2.08 vs 1.60 s min at sf1.0): the leg is
    # bound by the 1.5M-row scan+exchange, which both shapes pay, and
    # the extra exchange cancelled the parallel-sort gain. Reverted to
    # the single-window form.
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select("o_orderpriority", "o_orderkey", "rn")
    )


def _q_w5_cell_join(spark, sf_dir):
    # W5: spatial equi-join reduction — points and hubs bucketed to the
    # same integer cell id, joined on cell, aggregated per cell.
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 997).alias("cell")
    )
    hubs = _t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 997).alias("cell")
    )
    return (
        ev.join(F.broadcast(hubs), "cell")
        .groupBy("cell")
        .agg(F.count("*").alias("n_pairs"))
    )


def _q_w7_knn_topk(spark, sf_dir):
    # W7: kNN top-k per query on a deterministic integer grid
    # (candidate-generation + exact-distance refine + window top-k).
    q = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("qid"),
        ((F.col("n_nationkey") * 37) % 200).cast("long").alias("qx"),
        ((F.col("n_nationkey") * 11) % 200).cast("long").alias("qy"),
    )
    c = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sid"),
        ((F.col("s_suppkey") * 13) % 200).cast("long").alias("sx"),
        ((F.col("s_suppkey") * 7) % 200).cast("long").alias("sy"),
    )
    d2 = (F.col("qx") - F.col("sx")) ** 2 + (F.col("qy") - F.col("sy")) ** 2
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("sid"))
    return (
        q.crossJoin(F.broadcast(c))
        .withColumn("d2", d2.cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("qid", "sid", "d2", "rank")
    )


def _q_dedup_exact(spark, sf_dir):
    # Exact dedup: hash-groupBy on content, keep min id (training-data op).
    from osmptparser_spark.operators.dedup import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents"))


def _q_text_token_count(spark, sf_dir):
    # Token counting (whitespace tokens) via pure length arithmetic so
    # the SQL twin is exact.
    d = _t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_tokens = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("long")
    return d.select("doc_id", n_chars.alias("n_chars_calc"), n_tokens.alias("n_tokens"))


def _q_lang_id(spark, sf_dir):
    # Language-ID heuristic over one marker per language ('the' vs 'de')
    # through the library's marker counter: the length drop of the
    # padded text is always a whole number of markers, so its division
    # is exact in both engines.
    from osmptparser_spark.functions.text import lang_score

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_the = lang_score(t, ("the",))
    n_de = lang_score(t, ("de",))
    return d.select(
        "doc_id",
        n_the.alias("n_the"),
        n_de.alias("n_de"),
        F.when(n_the > n_de, F.lit("en"))
        .when(n_de > n_the, F.lit("es"))
        .otherwise(F.lit("und"))
        .alias("lang_guess"),
    )


def _q_lang_id_lib(spark, sf_dir):
    # The library's language-ID vote as shipped: 5 English against 5
    # Spanish stopword markers (the lang_id entry is a 1 + 1 vote).
    from osmptparser_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def _q_events_hourly(spark, sf_dir):
    # Windowed aggregation over the event-time table with exact distinct
    # users (streaming-shaped query run in batch; the streaming module's
    # own windowed_counts is checked by events_windowed).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select("event_type", "hour", "cnt", "n_users")
    )


def _q_events_windowed(spark, sf_dir):
    # The streaming module's tumbling-window counts, run in batch.
    # approx_users is an HLL estimate that differs across engines, so it
    # is checked by the streaming tests, not here.
    from osmptparser_spark.streaming.events import windowed_counts

    w = windowed_counts(_t(spark, sf_dir, "events"))
    return w.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
    )


def _q_emb_cosine_topk(spark, sf_dir):
    # Similarity search baseline: brute-force cosine top-3 per query
    # vector (query set = vec_id < 25), scored by the library's Arrow
    # cosine kernel; ranks are oracle-identical because neighbor
    # margins dwarf summation-order ulps.
    from osmptparser_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 25)
    return cosine_topk_bruteforce(q, emb, k=3).select("qid", "cid", "rank")


def _q_text_quality(spark, sf_dir):
    # Quality scoring (expression-only): token/punct stats + [0,1] score.
    from osmptparser_spark.functions.text import quality_score, token_count_ws

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_ws(t).alias("n_tokens_ws"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))).cast(
            "long"
        ).alias("n_punct"),
        quality_score(t).alias("quality"),
    )


def _q_a4_rollup(spark, sf_dir):
    # grouping-sets family (SURVEY §2.2: no reference impl — Spark
    # built-in): rollup over returnflag/linestatus with decimal sums.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("string")
            .alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "cnt", "sum_qty")
    )


def _q_sessionization(spark, sf_dir):
    # Gap-based session windows (the batch twin of the stateful
    # streaming operator in streaming/sessions.py).
    from osmptparser_spark.streaming.sessions import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    s = sessionize_batch(ev, gap_seconds=1800)
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


# ---- operators whose oracle is structural ---------------------------------
#
# These were rows-only in round 1. Round 2 makes every one DuckDB-
# checkable: either the oracle recomputes the semantics from scratch in
# SQL (shingle/ngram jaccard, brute-force kNN/ANN/PIP/radius joins), or
# the query's deterministic output is pinned as an inline VALUES golden
# (H3X/S2X cell fingerprints, stitch/area/geojson/multimodal outputs —
# regenerated by tools/pin_goldens.py, which fails if anything drifts).
# Float-boundary hazards are engineered out: pair queries emit exact
# integers (n_common/n_union instead of rounded jaccard), distance
# queries emit ids + ranks, not distances.


def _minhash_input(spark, sf_dir):
    # ASCII precondition (applied identically in the oracle SQL): the
    # impl hashes UTF-8 BYTE shingles, the oracle substrings CHARS —
    # equal jaccard only when bytes == chars. Filtering both sides the
    # same way keeps the contract corpus-proof instead of relying on
    # the current corpus being ASCII.
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 150) & (F.octet_length("text") == F.length("text"))
    )
    # plant deterministic near-dups so the operator has work to verify
    dups = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(dups)


def _minhash_chain_input(spark, sf_dir):
    # _minhash_input plus a SECOND variant per planted doc, so the
    # near-dup graph has 3-node components and pair→cluster transitive
    # closure (dedup_clusters) has real multi-edge work to do.
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 150) & (F.octet_length("text") == F.length("text"))
    )
    dups2 = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat("text", F.lit(" tail tail")).alias("text"),
    )
    return _minhash_input(spark, sf_dir).unionByName(dups2)


def _q_minhash_near_dup(spark, sf_dir):
    # Exact-integer output: the DuckDB oracle recomputes the 9-byte
    # shingle sets from substrings and must land on the same
    # (n_common, n_union). LSH recall at threshold 0.5 is total on this
    # corpus (verified: the only >=0.5 pairs are the planted ~0.97 ones,
    # whose 16-band catch probability is 1 - 5e-14, deterministic seed).
    from osmptparser_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_minhash_input(spark, sf_dir), threshold=0.5).select(
        "id_a", "id_b", "n_common", "n_union"
    )


def _q_dedup_clusters(spark, sf_dir):
    # Pair→cluster closure: MinHash/LSH pairs (threshold 0.5) fed to
    # large-star/small-star connected components; every doc gets a
    # component_id (singletons map to themselves), keep rule is
    # doc_id == component_id. The oracle recomputes the pairs from
    # shingle sets in SQL and closes them with a recursive CTE — a
    # fully independent derivation of the same clustering.
    from osmptparser_spark.operators.components import near_dup_clusters

    return near_dup_clusters(_minhash_chain_input(spark, sf_dir), threshold=0.5)


def _q_seq_packing(spark, sf_dir):
    # Training-sequence packing: greedy next-fit over token counts,
    # shard-local (doc_id % 8), budget 256. Token counts use the same
    # single-space length arithmetic as text_token_count so the DuckDB
    # twin is exact; the oracle replays the greedy scan per shard with
    # a recursive CTE — an independent sequential derivation of every
    # pack boundary.
    from osmptparser_spark.operators.packing import pack_sequences

    # doc_id >= 0 precondition (applied identically in the oracle):
    # the impl shards with pmod, the SQL with %, which diverge on
    # negative ids — filtering both sides keeps the contract
    # corpus-proof instead of relying on the current ids being
    # non-negative.
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 0)
    toks = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("long")
    return pack_sequences(
        d.select("doc_id", toks.alias("tok")),
        budget=256,
        tokens_col="tok",
        shard=8,
    )


def _q_pii_redaction(spark, sf_dir):
    # PII scrubbing over planted synthetic identifiers (the corpus has
    # none): per-doc email, a constant dashed phone, a per-doc IPv4.
    # The patterns use only dialect-identical regex constructs (see
    # text.PII_PATTERNS); the oracle replays the same replacement
    # chain with RE2 and must land on the same md5 of the redacted
    # text. ASCII precondition as in the other text oracles.
    from osmptparser_spark.functions.text import redact_pii

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & (F.octet_length("text") == F.length("text"))
    )
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-123-4567 from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" end"),
        ).alias("text"),
    )
    red = redact_pii(F.col("text"))
    return planted.select(
        "doc_id",
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("n_chars_redacted"),
    )


def _q_text_repetition(spark, sf_dir):
    # Gopher-style repetition signals; literal single-space split on
    # both sides (no regex dialect), fixed-point x1e4 integer division
    # in both engines. Oracle recomputes every bigram mode in SQL.
    from osmptparser_spark.functions.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _q_vocab_topk(spark, sf_dir):
    # Corpus vocabulary: top-50 tokens, ties broken by token string so
    # the limit boundary is deterministic in both engines.
    from osmptparser_spark.functions.text import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


def _q_corpus_sample(spark, sf_dir):
    # Quality floor -> per-source cap -> deterministic hash sample.
    # doc_id >= 0 precondition as in seq_packing (pmod vs %); the
    # oracle replays the identical window + keep-mask arithmetic.
    from osmptparser_spark.operators.sampling import corpus_sample

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 0)
    return corpus_sample(d, source_cap=40, fraction=0.5, min_chars=20)


def _q_simhash_near_dup(spark, sf_dir):
    # Planted NEAR-pairs (one rare token prepended -> hamming spread
    # 0-6 on this corpus), restricted to planted ids. The oracle
    # recomputes the ENTIRE simhash pipeline in DuckDB — token
    # polynomial hash mod 2^64 (HUGEINT hi/lo mulmod), splitmix64
    # finalizer, per-bit votes, sign, hamming — so green certifies the
    # hash bits themselves, not just the planted construction, and the
    # 4-6-hamming pairs certify the <=3 cut. Pigeonhole 4-chunk
    # banding catches hamming<=3 with certainty, so the operator's
    # output on planted ids is exactly {pairs with true hamming <= 3}.
    from osmptparser_spark.operators.dedup import simhash_near_dup_pairs

    # preconditions mirrored in the oracle SQL: ASCII-only (numpy
    # hashes UTF-8 bytes vs SQL ascii(substring()) chars) and no
    # non-space whitespace (python str.split() splits on ANY
    # whitespace, the SQL on single spaces)
    d = _t(spark, sf_dir, "documents").filter(
        (F.octet_length("text") == F.length("text"))
        & ~F.col("text").rlike("[\\t\\n\\x0B\\f\\r]")
    )
    dups = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("zqxjv "), "text").alias("text"),
    )
    pairs = simhash_near_dup_pairs(
        d.select("doc_id", "text").unionByName(dups), max_hamming=3
    )
    return pairs.filter(F.col("id_b") - F.col("id_a") == 10_000_000).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_ngram_jaccard(spark, sf_dir):
    from osmptparser_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(
        d.select("doc_id", "text"), n=3, threshold=0.15
    ).select("id_a", "id_b", "n_common", "n_union")


def _q_ngram_jaccard_planted(spark, sf_dir):
    # ngram_jaccard over _minhash_input: its planted near-dups (text +
    # " tail") give pairs at every scale factor, where the first 200
    # documents alone have none above 0.15 at sf0.1.
    from osmptparser_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _minhash_input(spark, sf_dir), n=3, threshold=0.5
    ).select("id_a", "id_b", "n_common", "n_union")


def _q_lsh_ann_topk(spark, sf_dir):
    # The oracle is the EXACT brute-force SQL: green means the LSH path
    # achieved recall 1.0 on this corpus (deterministic seed).
    from osmptparser_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 25)
    # 32 tables x 4 planes: measured recall 1.0 vs brute force on this
    # corpus (unstructured testdata vectors need many tables; clustered
    # real embeddings would use more planes / fewer tables)
    return ann_lsh_topk(q, emb, k=3, planes=4, tables=32).select(
        "qid", "cid", "rank"
    )


def _q_h3_tiling(spark, sf_dir):
    # W2/W8: events-derived points -> H3X res 9 cells -> rasterized
    # counts, fingerprinted into 64 bucket rows (cell-id sums catch any
    # encoder drift); the oracle is the pinned VALUES golden.
    from osmptparser_spark.operators.spatial import rasterize

    ev = _t(spark, sf_dir, "events").select(
        ((F.col("user_id") % 4000) / 1000.0 - 2.0).alias("lat"),
        ((F.col("event_id") % 4000) / 1000.0 - 80.0).alias("lon"),
    )
    return (
        rasterize(ev, res=9)
        # xxhash bucket: cell ids share constant trailing unused-digit
        # bits, so a plain modulus would collapse to one bucket
        .groupBy(F.pmod(F.xxhash64("h3_cell"), F.lit(64)).alias("bucket"))
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_points").alias("n_points"),
            F.sum(F.col("h3_cell").cast("decimal(38,0)"))
            .cast("string")
            .alias("cell_id_sum"),
        )
    )


def _q_s2_tiling(spark, sf_dir):
    from osmptparser_spark.functions.tiling import s2_encode_udf

    ev = _t(spark, sf_dir, "events").select(
        ((F.col("user_id") % 4000) / 1000.0 - 2.0).alias("lat"),
        ((F.col("event_id") % 4000) / 1000.0 - 80.0).alias("lon"),
    )
    return (
        ev.withColumn("s2_cell", s2_encode_udf(16)(F.col("lat"), F.col("lon")))
        .groupBy(F.pmod(F.xxhash64("s2_cell"), F.lit(64)).alias("bucket"))
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("s2_cell").alias("n_cells"),
            F.sum(F.col("s2_cell").cast("decimal(38,0)"))
            .cast("string")
            .alias("cell_id_sum"),
        )
    )


def _q_stitch_pipeline(spark, sf_dir):
    # G1-G9 + J1-J3 + F1 end-to-end on a deterministic synthetic city:
    # per-status route counts (goldens asserted in tests/test_synth.py).
    from osmptparser_spark.engine import get_public_transports
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER
    from osmptparser_spark.sources.pages import extract_all
    from osmptparser_spark.sources.synth import synth_pages_spark

    pages = synth_pages_spark(spark, n_routes=200, routes_per_task=50)
    nodes, ways, relations = extract_all(pages)
    pts = get_public_transports(nodes, ways, relations, 150.0, PTV2_FILTER)
    return pts.groupBy(
        F.col("status_code").cast("long").alias("status_code"), "status_detail"
    ).agg(
        F.count("*").alias("n_routes"),
        F.sum(F.size(F.flatten("node_seq"))).alias("total_points"),
    )


def _geo_points(spark, sf_dir):
    # full-range lat/lon derivation (user_id alone spans only 0-149)
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        (((F.col("event_id") * 7 + F.col("user_id") * 13) % 4000) / 1000.0 - 2.0).alias("lat"),
        ((F.col("event_id") * 3 % 4000) / 1000.0 - 80.0).alias("lon"),
    )
    stops = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") * 13 % 4000) / 1000.0 - 2.0).alias("lat"),
        ((F.col("p_partkey") * 7 % 4000) / 1000.0 - 80.0).alias("lon"),
    )
    return ev, stops


def _q_knn_geo(spark, sf_dir):
    # W7 over real coordinates (H3X rings + haversine + face-aware exact
    # fallback). Output is (ids, rank) — the DuckDB oracle brute-forces
    # the same haversine kNN, so green means the ring+escalation path is
    # EXACT on this data, not merely plausible. Distances are dropped
    # from the output (cross-engine libm ulps), ranks are robust: grid
    # coords make ties exact-equal, broken by cand_id in both engines.
    from osmptparser_spark.operators.spatial import knn_join

    ev, stops = _geo_points(spark, sf_dir)
    queries_df = ev.filter(F.col("id") % 101 == 0)
    return knn_join(queries_df, stops, k=3, res=6, ring=2).select(
        "query_id", "cand_id", F.col("rank").cast("long").alias("rank")
    )


def _q_within_dist_geo(spark, sf_dir):
    # Radius join with face-safe covering cells; oracle = brute-force
    # haversine filter in SQL. Ids only (see _q_knn_geo note).
    from osmptparser_spark.operators.spatial import within_distance_join

    ev, stops = _geo_points(spark, sf_dir)
    points = ev.filter(F.col("id") % 211 == 0)
    return within_distance_join(points, stops, radius_m=5000.0, res=8).select(
        "point_id", "stop_id"
    )


def _q_emb_near_dup(spark, sf_dir):
    # embedding-cosine near-dup pairs (LSH candidates + exact verify)
    # over planted perturbed copies; the oracle reconstructs the same
    # planted vectors in SQL and brute-forces all pairs — ids only
    # (cos values differ in summation-order ulps across engines; the
    # 0.999 threshold sits in a wide margin gap of this corpus).
    from osmptparser_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.001)).alias("embedding"),
        "label",
    )
    d = emb.unionByName(planted)
    return embedding_near_dup_pairs(d, threshold=0.999).select("id_a", "id_b")


def _q_geojson_sink(spark, sf_dir):
    # S4: GeoJSON serialization of stitched routes (reference shape,
    # LineString quirk preserved) over the synthetic city; md5 of every
    # feature is pinned as a VALUES golden (byte-level contract).
    from osmptparser_spark.engine import routes_from_pages
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER
    from osmptparser_spark.sources.geojson import public_transport_geojson
    from osmptparser_spark.sources.synth import synth_pages_spark

    pages = synth_pages_spark(spark, n_routes=50, routes_per_task=25)
    pts = routes_from_pages(pages, 150.0, PTV2_FILTER)
    return public_transport_geojson(pts).select(
        "id",
        F.md5("geojson").alias("geojson_md5"),
        F.length("geojson").cast("long").alias("geojson_len"),
    )


def _q_multimodal_features(spark, sf_dir):
    from osmptparser_spark.operators.multimodal import (
        decode_image_features,
        synthesize_media,
    )

    media = synthesize_media(spark, 64)
    return decode_image_features(media).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        # int-scaled first feature: float-free cross-engine compare
        (F.element_at("features", 1) * 10000).cast("long").alias("f0_x1e4"),
    )


def _q_area_pipeline(spark, sf_dir):
    # X3 + G7/G8/G9 + F5 (mod.rs:580-654, relation.rs:258-336,
    # bin.rs:63-83): the reference's SECOND CLI entry point, end-to-end
    # from a pages table. A deterministic mini-city covers every status
    # path: id-closed ring (0), gap-closed ring (102 Joined), unclosable
    # ring (501 empty ring), non-chaining members (501 no geometry),
    # scrambled members ([B,A,C] -> second sweep, then ring-status
    # overwrite quirk), plus standalone tagged ways (id_type 'w') in the
    # same three closure states. VALUES-golden oracle.
    from osmptparser_spark.engine import areas_from_pages
    from osmptparser_spark.sources.pages import entities_to_pages, pages_df

    nodes, ways, relations = _area_city_entities()
    pages = pages_df(spark, entities_to_pages(nodes, ways, relations, 10))
    areas = areas_from_pages(pages, 150.0, "name&landuse=park")
    return areas.select(
        "id",
        "id_type",
        F.col("status_code").cast("long").alias("status_code"),
        "status_detail",
        F.size("geometry").cast("long").alias("n_rings"),
        F.size(F.flatten("node_seq")).cast("long").alias("n_points"),
    )


def _area_city_entities():
    """Deterministic area-mode city (pure python, no RNG).

    Grid step 2e-4 deg (~22 m); the 150 m gap bridges ~6 steps.
    """

    def mk_nodes(nid0, pts):
        return [
            {"id": nid0 + i, "lat": la, "lon": lo, "tags": {}}
            for i, (la, lo) in enumerate(pts)
        ]

    s = 2e-4
    nodes, ways, relations = [], [], []
    park = {"name": "P", "landuse": "park"}

    def add_way(wid, refs, tags=None):
        ways.append({"id": wid, "tags": tags or {}, "info": {}, "refs": refs})

    # rel 900001: 3 ways chain into an id-closed square ring -> status 0
    sq = [(0.0, 0.0), (0.0, s), (s, s), (s, 0.0)]
    nodes += mk_nodes(1000, sq)
    add_way(501, [1000, 1001, 1002])
    add_way(502, [1002, 1003])
    add_way(503, [1003, 1000])
    relations.append(
        {"id": 900001, "tags": dict(park), "info": {},
         "way_refs": [501, 502, 503], "stop_refs": []}
    )
    # rel 900002: chain closes within 150 m but NOT by id -> 102 Joined
    sq2 = [(1.0, 0.0), (1.0, s), (1.0 + s, s), (1.0 + s, 0.0)]
    nodes += mk_nodes(1100, sq2)
    add_way(511, [1100, 1101, 1102])
    add_way(512, [1102, 1103])  # ends ~22 m from node 1100: close bridges
    relations.append(
        {"id": 900002, "tags": dict(park), "info": {},
         "way_refs": [511, 512], "stop_refs": []}
    )
    # rel 900003: chain ends ~1.1 km apart -> close fails -> 501, empty ring
    line = [(2.0, 0.0), (2.0, s), (2.0, 2 * s), (2.0, 50 * s)]
    nodes += mk_nodes(1200, line)
    add_way(521, [1200, 1201])
    add_way(522, [1201, 1202, 1203])
    relations.append(
        {"id": 900003, "tags": dict(park), "info": {},
         "way_refs": [521, 522], "stop_refs": []}
    )
    # rel 900004: two disjoint far-apart members -> flatten 501, no rings
    nodes += mk_nodes(1300, [(3.0, 0.0), (3.0, s), (3.5, 0.0), (3.5, s)])
    add_way(531, [1300, 1301])
    add_way(532, [1302, 1303])
    relations.append(
        {"id": 900004, "tags": dict(park), "info": {},
         "way_refs": [531, 532], "stop_refs": []}
    )
    # rel 900005: scrambled member order [B, A, C] over an open arc whose
    # endpoints sit ~44 m apart: the first sweep leaves 2 runs, the
    # second (post-identity-sort) sweep merges -> 101 Sorted, then ring
    # closure bridges -> the LAST-ring-status overwrite quirk
    # (relation.rs:291-296) rewrites the final status to 102 Joined
    arc = [
        (4.0, 0.0), (4.0, s), (4.0, 2 * s), (4.0 + s, 2 * s),
        (4.0 + 2 * s, 2 * s), (4.0 + 2 * s, s), (4.0 + 2 * s, 0.0),
    ]
    nodes += mk_nodes(1400, arc)
    add_way(541, [1400, 1401, 1402])
    add_way(542, [1402, 1403, 1404])
    add_way(543, [1404, 1405, 1406])
    relations.append(
        {"id": 900005, "tags": dict(park), "info": {},
         "way_refs": [542, 541, 543], "stop_refs": []}
    )
    # standalone tagged ways (id_type 'w'), F5/G9 path:
    # 551 id-closed -> 0; 552 open, endpoints ~22 m -> 102; 553 open far -> 501
    nodes += mk_nodes(1500, [(5.0, 0.0), (5.0, s), (5.0 + s, s), (5.0 + s, 0.0)])
    add_way(551, [1500, 1501, 1502, 1503, 1500], tags=dict(park))
    nodes += mk_nodes(1600, [(6.0, 0.0), (6.0, s), (6.0 + s, s)])
    add_way(552, [1600, 1601, 1602], tags=dict(park))
    nodes += mk_nodes(1700, [(7.0, 0.0), (7.0, 50 * s), (7.0, 100 * s)])
    add_way(553, [1700, 1701, 1702], tags=dict(park))
    # an untagged way and a non-park relation must NOT appear
    add_way(561, [1500, 1501])
    relations.append(
        {"id": 900006, "tags": {"name": "R", "route": "bus", "type": "route"},
         "info": {}, "way_refs": [501], "stop_refs": []}
    )
    return nodes, ways, relations


def _q_w6_pip(spark, sf_dir):
    # W6: ray-cast point-in-polygon against literal polygons, via the
    # scale-safe default plan (polygon cell-cover explode -> shuffle
    # EQUI-join on cell + bbox residual -> salted JVM ray cast; no
    # broadcast nested loop anywhere). The oracle re-derives
    # containment in SQL (bbox tests for rectangles, half-plane sign
    # tests for the triangle) — a genuinely independent formulation.
    from osmptparser_spark.operators.spatial import point_in_polygon_join

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        (((F.col("event_id") * 7 + F.col("user_id") * 13) % 4000) / 1000.0 - 2.0).alias("lat"),
        ((F.col("event_id") * 3 % 4000) / 1000.0 - 80.0).alias("lon"),
    )
    from osmptparser_spark.session import local_df

    # local_df(slices=1), not bare createDataFrame: the cells plan reads
    # the polygon side twice per action (cover mapInPandas + the refine
    # join's ring side), and a defaultParallelism-sliced 2-row table pays 64
    # Python task dispatches per run — the bench leg's dominant cost
    # under host contention.
    polys = local_df(
        spark,
        [
            (1, [(lo, la) for la, lo in _PIP_RECT]),
            (2, [(lo, la) for la, lo in _PIP_TRI]),
        ],
        "poly_id BIGINT, ring ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>",
    )
    return point_in_polygon_join(ev, polys, point_id="id").select(
        "point_id", "poly_id"
    )


# closed rings as (lat, lon); vertices offset to x.xxx5 so no grid point
# (1e-3 lattice) lies on an edge (verified: min |cross| margin >> ulp)
_PIP_RECT = [
    (-1.4995, -79.4995),
    (-1.4995, -78.2005),
    (-0.3005, -78.2005),
    (-0.3005, -79.4995),
    (-1.4995, -79.4995),
]
_PIP_TRI = [
    (1.8015, -79.9985),
    (0.1005, -76.8005),
    (-1.7005, -79.0005),
    (1.8015, -79.9985),
]


def _q_pbf_decode(spark, sf_dir):
    # S1-S3 (mod.rs:273-281 BlobReader loop, 403-411/477-485 re-reads):
    # the PBF wire path end-to-end and self-contained — encode the
    # deterministic mini-city with write_pbf (multi-block, zlib blobs),
    # decode it back through the DISTRIBUTED reader (blob-index scan ->
    # executor-side mapInPandas decode), and fingerprint every field
    # kind: counts, id sums, coordinate checksum (exact: raw 1e-7
    # lattice), way-ref / member sums, tag counts. Pinned-VALUES
    # oracle. Round-trip unit tests cover per-entity equality; this row
    # makes the source path part of the driver correctness gate.
    import os
    import tempfile

    from osmptparser_spark.sources.pbf import read_pbf_spark, write_pbf

    nodes, ways, rels = _area_city_entities()
    rel_m = [
        {
            "id": r["id"],
            "tags": r["tags"],
            "members": [("", w, "way") for w in r["way_refs"]]
            + [("stop", s, "node") for s in r["stop_refs"]],
        }
        for r in rels
    ]
    path = os.path.join(tempfile.gettempdir(), "osmpt_pbf_decode_q.pbf")
    write_pbf(path, nodes, ways, rel_m, entities_per_block=10)
    n, w, r = read_pbf_spark(spark, path)
    nn = n.select(
        F.lit("node").alias("kind"),
        "id",
        (F.round(F.col("lat") * 1e7) + F.round(F.col("lon") * 1e7))
        .cast("long")
        .alias("v"),
        F.size("tags").alias("ntags"),
    )
    ww = w.select(
        F.lit("way").alias("kind"),
        "id",
        F.aggregate("refs", F.lit(0).cast("long"), lambda a, x: a + x).alias("v"),
        F.size("tags").alias("ntags"),
    )
    rr = r.select(
        F.lit("relation").alias("kind"),
        "id",
        (
            F.aggregate("way_refs", F.lit(0).cast("long"), lambda a, x: a + x)
            + F.aggregate("stop_refs", F.lit(0).cast("long"), lambda a, x: a + x)
        ).alias("v"),
        F.size("tags").alias("ntags"),
    )
    return (
        nn.unionByName(ww)
        .unionByName(rr)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum("id").alias("id_sum"),
            F.sum("v").alias("v_sum"),
            F.sum("ntags").cast("long").alias("n_tags"),
        )
    )


def _q_text_fingerprint(spark, sf_dir):
    # Winnowing document fingerprints (rolling byte-shingle polynomial
    # hash -> per-window minima), exploded to (doc_id, fp) rows. The
    # oracle recomputes every shingle hash in DuckDB (shared HUGEINT
    # mulmod/splitmix machinery) and the window minima with a SQL
    # window frame — an independent formulation of the exact values.
    from osmptparser_spark.functions.text import fingerprint_df

    # preconditions mirrored in the oracle SQL: texts of >= 24 chars
    # (shorter ones take fingerprint_df's single-min branch while the
    # SQL's `i <= n - 15` frame emits zero rows) and ASCII-only (the
    # numpy path hashes UTF-8 bytes, the SQL ascii(substring()) chars)
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100)
        & (F.length("text") >= 24)
        & (F.octet_length("text") == F.length("text"))
    )
    return fingerprint_df(d.select("doc_id", "text"), window=16, k=8).select(
        "doc_id", F.explode("fingerprints").alias("fp")
    )


def _q_asof_join(spark, sf_dir):
    # Backward as-of join (training-data feature pattern: latest
    # purchase before each click, per user). Single-shuffle union +
    # running-last implementation; the oracle is an independent
    # correlated max-subquery formulation in DuckDB. Epoch-micros
    # output (exact integers across engines).
    from osmptparser_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        clicks, purchases, on="ts", by="user_id", right_cols=["event_id"]
    )
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC, so the cast is
    # instant-preserving and unix_micros matches DuckDB's epoch_us
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("asof_ts_us"),
    )


def _q_interval_join(spark, sf_dir):
    # 1-D range join via bucket-grid equi-join (the temporal twin of
    # the spatial cell join): every click inside the hour following a
    # signup. Oracle = the raw range theta-join in DuckDB. Epoch-micros
    # integers throughout.
    from osmptparser_spark.operators.temporal import interval_join

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # ts is NTZ; tz=UTC
    clicks = ev.filter((F.col("event_type") == "click") & (F.col("user_id") < 10)).select(
        F.col("event_id").alias("click_id"), us.alias("t")
    )
    hour_us = 3_600_000_000
    signups = ev.filter(
        (F.col("event_type") == "signup") & (F.col("user_id") < 10)
    ).select(
        F.col("event_id").alias("signup_id"),
        us.alias("t_start"),
        (us + hour_us).alias("t_end"),
    )
    return interval_join(
        clicks, signups, on="t", start="t_start", end="t_end",
        bucket_width=hour_us,
    ).select("click_id", "signup_id")


def _q_x5_preset_filter(spark, sf_dir):
    # X5: the reference's preset filter strings (mod.rs:151,157-163 —
    # ptv2, ptv2-strict, administrative areas) run through the real
    # grammar compiler (compile_tag_filter) over a deterministic tags
    # map derived from part. The DuckDB oracle re-derives the SAME tag
    # presence/value rules and hand-writes each preset's predicate as
    # plain SQL (no shared compiler code), so green certifies both the
    # preset strings and the `&`/`=`/`,` grammar end-to-end.
    from osmptparser_spark.functions.tagfilter import (
        AA_FILTER,
        PTV2_FILTER,
        PTV2_FILTER_STRICT,
        compile_tag_filter,
    )

    k = F.col("p_partkey")
    route_v = F.element_at(
        F.array(
            *[F.lit(v) for v in ("bus", "tram", "ferry", "car", "light_rail")]
        ),
        ((k % 5) + 1).cast("int"),
    )
    boundary_v = (
        F.when(k % 5 < 3, F.lit("administrative")).otherwise(F.lit("maritime"))
    )
    entry = lambda key, val: F.struct(  # noqa: E731
        F.lit(key).alias("key"), val.cast("string").alias("value")
    )
    entries = F.array_compact(
        F.array(
            F.when(k % 3 != 0, entry("name", F.concat(F.lit("n"), k.cast("string")))),
            F.when(k % 2 == 0, entry("route", route_v)),
            F.when(k % 7 == 0, entry("route_master", F.lit("bus"))),
            F.when(k % 4 == 1, entry("admin_level", (k % 11).cast("string"))),
            F.when(k % 6 < 3, entry("boundary", boundary_v)),
        )
    )
    base = _t(spark, sf_dir, "part").select(
        k.cast("long").alias("k"), F.map_from_entries(entries).alias("tags")
    )
    parts = []
    for name, flt in (
        ("admin_areas", AA_FILTER),
        ("ptv2", PTV2_FILTER),
        ("ptv2_strict", PTV2_FILTER_STRICT),
    ):
        parts.append(
            base.filter(compile_tag_filter(flt))
            .agg(
                F.count("*").cast("long").alias("n_match"),
                F.sum("k").cast("long").alias("sum_key"),
            )
            .select(F.lit(name).alias("preset"), "n_match", "sum_key")
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def _q_w9_lineage(spark, sf_dir):
    # W9: 3-stage pipeline through LineageTracker (parquet checkpoints +
    # per-partition manifests); the query returns each stage's manifest
    # totals row, which the oracle recomputes as plain SQL counts — so
    # green means the lineage metrics tell the truth about the data.
    import tempfile

    from osmptparser_spark.plans.lineage import LineageTracker

    base = tempfile.mkdtemp(prefix="osmpt_lineage_q_")
    tr = LineageTracker(spark, base)
    ev = _t(spark, sf_dir, "events")
    s1 = tr.run_stage("s1_filter", lambda: ev.filter(F.col("event_type") == "click"))
    s2 = tr.run_stage(
        "s2_agg",
        lambda: s1.groupBy("user_id").agg(F.count("*").alias("n_clicks")),
    )
    tr.run_stage(
        "s3_top",
        lambda: s2.filter(F.col("n_clicks") >= 3),
    )
    return tr.metrics().select(
        "stage", F.col("n_rows").cast("long").alias("n_rows")
    )


def _q_h3_compat(spark, sf_dir):
    # Uber-H3 compatibility adapter (round 5): the LAYOUT half of true
    # H3 — field packing, digit-slot semantics, parent truncation —
    # exercised through the real h3compat code path (pandas UDF over
    # published cell ids), recomputed independently by the oracle with
    # raw SQL bit arithmetic. The encode half needs the public constant
    # tables (data, not algorithm — see h3compat module docstring) and
    # is pinned by the synthetic-face geometry tests in pytest.
    import pandas as _pd

    from osmptparser_spark.functions import h3compat as hc
    from osmptparser_spark.session import local_df

    published = [
        ("8928308280fffff", 9),  # latLngToCell(37.7752..., -122.4183..., 9)
        ("85283473fffffff", 5),  # docs example, res 5
    ]
    rows = [
        (hc.string_to_cell(s), pr)
        for s, res in published
        for pr in range(res + 1)
    ]
    base_df = local_df(spark, rows, "cell BIGINT, parent_res INT")

    def gen(batches):
        for pdf in batches:
            parents = [
                hc.cell_to_parent(int(c), int(pr))
                for c, pr in zip(pdf["cell"], pdf["parent_res"])
            ]
            unpacked = [hc.unpack_cell(p) for p in parents]
            yield _pd.DataFrame(
                {
                    "cell": pdf["cell"].astype("int64"),
                    "parent_res": pdf["parent_res"].astype("int64"),
                    "parent": _pd.Series(parents, dtype="int64"),
                    "base_cell": _pd.Series(
                        [u[0] for u in unpacked], dtype="int64"
                    ),
                    "digit_sum": _pd.Series(
                        [sum(u[2]) for u in unpacked], dtype="int64"
                    ),
                }
            )

    return base_df.mapInPandas(
        gen,
        "cell BIGINT, parent_res BIGINT, parent BIGINT, "
        "base_cell BIGINT, digit_sum BIGINT",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "f1_tag_filter": _q_f1_tag_filter,
        "f6_point_lookup": _q_f6_point_lookup,
        "j1_semi_join": _q_j1_semi_join,
        "j2_anti_join": _q_j2_anti_join,
        "j3_order_preserving_regroup": _q_j3_order_preserving_regroup,
        "a2_distinct_union": _q_a2_distinct_union,
        "a3_group_agg": _q_a3_group_agg,
        "x1_topk_window": _q_x1_topk_window,
        "w5_cell_join": _q_w5_cell_join,
        "w7_knn_topk": _q_w7_knn_topk,
        "dedup_exact": _q_dedup_exact,
        "text_token_count": _q_text_token_count,
        "lang_id": _q_lang_id,
        "lang_id_lib": _q_lang_id_lib,
        "events_hourly": _q_events_hourly,
        "events_windowed": _q_events_windowed,
        "emb_cosine_topk": _q_emb_cosine_topk,
        "text_quality": _q_text_quality,
        "sessionization": _q_sessionization,
        "a4_rollup": _q_a4_rollup,
        # structural oracles: SQL recomputation or pinned VALUES goldens
        "minhash_near_dup": _q_minhash_near_dup,
        "dedup_clusters": _q_dedup_clusters,
        "seq_packing": _q_seq_packing,
        "text_repetition": _q_text_repetition,
        "pii_redaction": _q_pii_redaction,
        "vocab_topk": _q_vocab_topk,
        "corpus_sample": _q_corpus_sample,
        "simhash_near_dup": _q_simhash_near_dup,
        "ngram_jaccard": _q_ngram_jaccard,
        "ngram_jaccard_planted": _q_ngram_jaccard_planted,
        "lsh_ann_topk": _q_lsh_ann_topk,
        "h3_tiling": _q_h3_tiling,
        "s2_tiling": _q_s2_tiling,
        "stitch_pipeline": _q_stitch_pipeline,
        "knn_geo": _q_knn_geo,
        "within_dist_geo": _q_within_dist_geo,
        "multimodal_features": _q_multimodal_features,
        "emb_near_dup": _q_emb_near_dup,
        "geojson_sink": _q_geojson_sink,
        "area_pipeline": _q_area_pipeline,
        "w6_pip": _q_w6_pip,
        "w9_lineage": _q_w9_lineage,
        "pbf_decode": _q_pbf_decode,
        "text_fingerprint": _q_text_fingerprint,
        "asof_join": _q_asof_join,
        "interval_join": _q_interval_join,
        "x5_preset_filter": _q_x5_preset_filter,
        "h3_compat": _q_h3_compat,
    }


_HAVERSINE_SQL = (
    "2.0 * 6371000.0 * atan2(sqrt("
    "pow(sin(radians({lat2} - {lat1}) / 2), 2) "
    "+ cos(radians({lat1})) * cos(radians({lat2})) "
    "* pow(sin(radians({lon2} - {lon1}) / 2), 2)"
    "), sqrt(1.0 - ("
    "pow(sin(radians({lat2} - {lat1}) / 2), 2) "
    "+ cos(radians({lat1})) * cos(radians({lat2})) "
    "* pow(sin(radians({lon2} - {lon1}) / 2), 2)"
    ")))"
)


# --- uint64-wraparound hash emulation for DuckDB oracles --------------------
# Products of two 64-bit values are decomposed hi/lo-32 (each partial
# < 2^64, sums < 2^65 — inside HUGEINT range) and reduced mod 2^64;
# xor/shift run on non-negative HUGEINTs (shift == integer division).

_M64 = "18446744073709551616"
_M32 = 4294967296


def _sql_mulmod(h: str, c: int) -> str:
    c_hi, c_lo = c // _M32, c % _M32
    return (
        f"((({h}) % {_M32}) * {c_lo} + (((({h}) % {_M32}) * {c_hi} + "
        f"(({h}) // {_M32}) * {c_lo}) % {_M32}) * {_M32}) % {_M64}"
    )


def _sql_xshift(h: str, sh: int) -> str:
    return f"xor(CAST({h} AS HUGEINT), CAST(({h}) // {1 << sh} AS HUGEINT))"


def _sql_splitmix(h0: str) -> str:
    """splitmix64 finalizer over a non-negative HUGEINT expr (exactly
    dedup._splitmix64)."""
    s0 = f"((({h0}) + 11400714819323198485) % {_M64})"
    x1 = _sql_xshift(s0, 30)
    s1 = _sql_mulmod(x1, 0xBF58476D1CE4E5B9)
    x2 = _sql_xshift(s1, 27)
    s2 = _sql_mulmod(x2, 0x94D049BB133111EB)
    return _sql_xshift(s2, 31)


def _sql_poly_powers(n: int) -> str:
    """VALUES rows (e, B^e mod 2^64) for the FNV-prime polynomial base
    dedup._B, e in [0, n)."""
    return ", ".join(
        f"({e}, CAST({pow(0x100000001B3, e, 1 << 64)} AS HUGEINT))"
        for e in range(n)
    )


def _simhash_oracle_sql() -> str:
    """DuckDB recomputation of the FULL simhash pipeline (dedup.py:
    _segment_hashes + _splitmix64 + bit votes) for the planted
    near-pair cohort. Token hash parity with the numpy path is
    pinned in tests/test_entry_oracle.py."""
    m64 = _M64
    splitmix = _sql_splitmix("h0")
    powers = _sql_poly_powers(32)
    pow2 = ", ".join(f"({b}, CAST({1 << b} AS HUGEINT))" for b in range(64))
    return f"""
        WITH powers(e, p) AS (VALUES {powers}),
        pow2(b, v) AS (VALUES {pow2}),
        base AS (
            SELECT doc_id, text FROM documents
            WHERE strlen(text) = length(text)
              AND NOT regexp_matches(text, '[\\t\\n\\x0b\\f\\r]')
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, 'zqxjv ' || text AS text
            FROM documents
            WHERE doc_id % 20 = 0
              AND strlen(text) = length(text)
              AND NOT regexp_matches(text, '[\\t\\n\\x0b\\f\\r]')
        ),
        toks AS (
            SELECT doc_id, tok, count(*) AS cnt FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM base
            ) WHERE tok != '' GROUP BY doc_id, tok
        ),
        ntok AS (SELECT doc_id, sum(cnt) AS n FROM toks GROUP BY doc_id),
        chars AS (
            SELECT doc_id, tok, cnt, i,
                   ascii(substring(tok, CAST(i AS INT), 1)) AS byte,
                   length(tok) AS L
            FROM toks, unnest(generate_series(1, length(tok))) AS u(i)
        ),
        ph AS (
            SELECT doc_id, tok, cnt,
                   CAST(sum((CAST(byte AS HUGEINT) * p) % {m64}) % {m64}
                        AS HUGEINT) AS h0
            FROM chars JOIN powers ON powers.e = L - i
            GROUP BY doc_id, tok, cnt
        ),
        th AS (
            SELECT doc_id, cnt, CAST({splitmix} AS HUGEINT) AS h FROM ph
        ),
        bits AS (
            SELECT doc_id, b, sum(cnt * ((h // v) % 2)) AS ones
            FROM th, pow2 GROUP BY doc_id, b
        ),
        simbits AS (
            SELECT bits.doc_id, b,
                   CASE WHEN 2 * ones - n > 0 THEN 1 ELSE 0 END AS bit
            FROM bits JOIN ntok ON ntok.doc_id = bits.doc_id
        )
        SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(sum(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END)
                        AS BIGINT) AS hamming
            FROM simbits a
            JOIN simbits b ON b.doc_id = a.doc_id + 10000000 AND a.b = b.b
            WHERE a.doc_id % 20 = 0
            GROUP BY a.doc_id, b.doc_id
        ) WHERE hamming <= 3
    """


def _marker_sum_sql(markers) -> str:
    """Stopword-marker count: the length drop of the space-padded text
    when every ' word ' is removed, in whole markers, summed."""
    return " + ".join(
        f"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', "
        f"' {w} ', ''))) // {len(w) + 2}"
        for w in markers
    )


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _golden_values_sql(name: str) -> str:
    """Inline VALUES oracle from the pinned goldens module (regenerate
    with tools/pin_goldens.py; deterministic queries only)."""
    from __spark_goldens__ import GOLDENS

    g = GOLDENS[name]
    cols = g["columns"]  # [(name, duckdb_type), ...]
    values = ",\n".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in g["rows"]
    )
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    select = ", ".join(
        f"CAST(c{i} AS {typ}) AS {col}" for i, (col, typ) in enumerate(cols)
    )
    return f"SELECT {select} FROM (VALUES {values}) AS t({names})"


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_computed()
    for name in (
        "h3_tiling",
        "s2_tiling",
        "stitch_pipeline",
        "geojson_sink",
        "area_pipeline",
        "pbf_decode",
    ):
        try:
            out[name] = _golden_values_sql(name)
        except Exception:
            pass  # goldens not pinned yet: query stays rows-only
    return out


def _oracle_sql_computed() -> dict[str, str]:
    return {
        # Uber-H3 layout adapter: the Spark side runs the real
        # h3compat.cell_to_parent/unpack_cell python path; the oracle
        # re-derives parent truncation, base-cell field, and digit sums
        # with raw bit arithmetic — an independent formulation of the
        # published 64-bit H3 index layout.
        "h3_compat": """
            WITH ids(cell, res) AS (
                VALUES (CAST(617700169958293503 AS BIGINT), 9),
                       (CAST(599686042433355775 AS BIGINT), 5)
            ),
            expanded AS (
                SELECT cell, UNNEST(range(0, res + 1)) AS parent_res
                FROM ids
            ),
            p AS (
                SELECT cell, parent_res,
                       ((cell - (((cell >> 52) & 15) << 52))
                        + (CAST(parent_res AS BIGINT) << 52))
                       | ((CAST(1 AS BIGINT) << ((15 - parent_res) * 3)) - 1)
                       AS parent
                FROM expanded
            )
            SELECT cell, parent_res, parent,
                   (parent >> 45) & 127 AS base_cell,
                   CAST(COALESCE(list_sum(
                       [ (parent >> ((15 - r) * 3)) & 7
                         for r in range(1, parent_res + 1) ]), 0) AS BIGINT)
                   AS digit_sum
            FROM p
        """,
        "f1_tag_filter": """
            SELECT event_id, event_type,
                   json_extract_string(props, '$.k') AS k_val
            FROM events
            WHERE json_extract_string(props, '$.k') IN ('69', '89')
        """,
        "f6_point_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus
            FROM orders WHERE o_orderkey IN (42, 4242, 9999)
        """,
        "j1_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "j2_anti_join": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "j3_order_preserving_regroup": """
            SELECT l_orderkey,
                   string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS part_seq,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """,
        "a2_distinct_union": """
            SELECT DISTINCT nationkey FROM (
                SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
                UNION ALL
                SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
            )
        """,
        "a3_group_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "x1_topk_window": """
            SELECT o_orderpriority, o_orderkey, rn FROM (
                SELECT o_orderpriority, o_orderkey,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders
            ) WHERE rn <= 10
        """,
        "w5_cell_join": """
            SELECT cell, count(*) AS n_pairs FROM
                (SELECT user_id % 997 AS cell FROM events) p
                JOIN (SELECT s_suppkey % 997 AS cell FROM supplier) h USING (cell)
            GROUP BY cell
        """,
        "w7_knn_topk": """
            SELECT qid, sid, d2, rank FROM (
                SELECT q.qid, c.sid,
                       (q.qx - c.sx) * (q.qx - c.sx) + (q.qy - c.sy) * (q.qy - c.sy) AS d2,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY (q.qx - c.sx) * (q.qx - c.sx) + (q.qy - c.sy) * (q.qy - c.sy),
                                    c.sid) AS rank
                FROM (SELECT CAST(n_nationkey AS BIGINT) AS qid,
                             (n_nationkey * 37) % 200 AS qx,
                             (n_nationkey * 11) % 200 AS qy FROM nation) q
                CROSS JOIN (SELECT s_suppkey AS sid,
                             (s_suppkey * 13) % 200 AS sx,
                             (s_suppkey * 7) % 200 AS sy FROM supplier) c
            ) WHERE rank <= 3
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "text_token_count": """
            SELECT doc_id, length(text) AS n_chars_calc,
                   length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
            FROM documents
        """,
        "lang_id": """
            SELECT doc_id,
                   (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5 AS n_the,
                   (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' de ', ''))) // 4 AS n_de,
                   CASE
                     WHEN (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
                        > (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' de ', ''))) // 4 THEN 'en'
                     WHEN (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' de ', ''))) // 4
                        > (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5 THEN 'es'
                     ELSE 'und'
                   END AS lang_guess
            FROM documents
        """,
        "a4_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "sessionization": """
            WITH g AS (
                SELECT user_id, ts,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM g
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "events_hourly": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   count(*) AS cnt, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "text_quality": """
            WITH stats AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens_ws,
                       length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
                       length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nonspace,
                       (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' de ', ''))) // 4
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' la ', ''))) // 4
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) // 4
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' que ', ''))) // 5
                     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' los ', ''))) // 5
                       AS n_stops
                FROM documents
            )
            SELECT doc_id, CAST(n_tokens_ws AS BIGINT) AS n_tokens_ws,
                   CAST(n_punct AS BIGINT) AS n_punct,
                   ((CASE WHEN n_chars >= 50 AND n_chars <= 100000 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN n_stops / greatest(n_tokens_ws, 1) >= 0.01 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN n_nonspace / greatest(n_tokens_ws, 1) >= 2.0
                          AND n_nonspace / greatest(n_tokens_ws, 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN n_punct / greatest(n_chars, 1) <= 0.2 THEN 1.0 ELSE 0.0 END)) / 4.0
                   AS quality
            FROM stats
        """,
        "emb_cosine_topk": """
            SELECT qid, cid, rank FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                    c.vec_id) AS rank
                FROM embeddings q CROSS JOIN embeddings c
                WHERE q.vec_id < 25 AND q.vec_id != c.vec_id
            ) WHERE rank <= 3
        """,
        # lsh_ann_topk's oracle IS the exact brute force: green means the
        # LSH path achieved recall 1.0 on this corpus (fixed seed).
        "lsh_ann_topk": """
            SELECT qid, cid, rank FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                    c.vec_id) AS rank
                FROM embeddings q CROSS JOIN embeddings c
                WHERE q.vec_id < 25 AND q.vec_id != c.vec_id
            ) WHERE rank <= 3
        """,
        "minhash_near_dup": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id < 150 AND strlen(text) = length(text)
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text || ' tail' AS text
                FROM documents
                WHERE doc_id < 150 AND doc_id % 20 = 0
                  AND strlen(text) = length(text)
            ), pos AS (
                SELECT doc_id, text,
                       unnest(generate_series(1, greatest(length(text) - 8, 1))) AS i
                FROM base
            ), sh AS (
                SELECT DISTINCT doc_id, substring(text, i, 9) AS g FROM pos
            ), sz AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b USING (g)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_common, sa.n + sb.n - n_common AS n_union
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
        """,
        "dedup_clusters": """
            WITH RECURSIVE base AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id < 150 AND strlen(text) = length(text)
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text || ' tail' AS text
                FROM documents
                WHERE doc_id < 150 AND doc_id % 20 = 0
                  AND strlen(text) = length(text)
                UNION ALL
                SELECT doc_id + 20000000 AS doc_id, text || ' tail tail' AS text
                FROM documents
                WHERE doc_id < 150 AND doc_id % 20 = 0
                  AND strlen(text) = length(text)
            ), pos AS (
                SELECT doc_id, text,
                       unnest(generate_series(1, greatest(length(text) - 8, 1))) AS i
                FROM base
            ), sh AS (
                SELECT DISTINCT doc_id, substring(text, i, 9) AS g FROM pos
            ), sz AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b USING (g)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
                WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
            ), sym AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b AS u, id_a AS v FROM pairs
            ), reach(u, v) AS (
                SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            ), comp AS (
                SELECT u AS doc_id, least(u, min(v)) AS component_id
                FROM reach GROUP BY u
            )
            SELECT b.doc_id,
                   CAST(coalesce(c.component_id, b.doc_id) AS BIGINT)
                       AS component_id
            FROM base b LEFT JOIN comp c USING (doc_id)
        """,
        "seq_packing": """
            WITH RECURSIVE base AS (
                SELECT doc_id, doc_id % 8 AS shard,
                       greatest(1, length(text)
                                   - length(replace(text, ' ', '')) + 1)
                           AS n_tokens,
                       row_number() OVER (
                           PARTITION BY doc_id % 8 ORDER BY doc_id
                       ) AS rn
                FROM documents WHERE doc_id >= 0
            ), rec AS (
                SELECT shard, rn, doc_id, n_tokens,
                       CAST(0 AS BIGINT) AS pack, n_tokens AS acc,
                       CAST(0 AS BIGINT) AS pos
                FROM base WHERE rn = 1
                UNION ALL
                SELECT b.shard, b.rn, b.doc_id, b.n_tokens,
                       CASE WHEN r.acc + b.n_tokens > 256
                            THEN r.pack + 1 ELSE r.pack END,
                       CASE WHEN r.acc + b.n_tokens > 256
                            THEN b.n_tokens ELSE r.acc + b.n_tokens END,
                       CASE WHEN r.acc + b.n_tokens > 256
                            THEN 0 ELSE r.pos + 1 END
                FROM rec r JOIN base b
                  ON b.shard = r.shard AND b.rn = r.rn + 1
            )
            SELECT doc_id, shard,
                   shard * 4294967296 + pack AS pack_id,
                   pos AS pack_pos, n_tokens
            FROM rec
        """,
        "text_repetition": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS ts FROM documents
            ), base AS (
                SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS d
                FROM toks
            ), big AS (
                SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
                FROM toks, unnest(generate_series(1, len(ts) - 1)) AS t(i)
            ), bc AS (
                SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2
            ), bm AS (
                SELECT doc_id, max(c) AS m FROM bc GROUP BY 1
            )
            SELECT b.doc_id, n AS n_tokens, d AS n_distinct,
                   ((n - d) * 10000) // n AS dup_token_frac_x1e4,
                   CASE WHEN n >= 2
                        THEN (coalesce(m, 0) * 10000) // (n - 1)
                        ELSE 0 END AS top_bigram_frac_x1e4
            FROM base b LEFT JOIN bm USING (doc_id)
        """,
        "pii_redaction": """
            WITH planted AS (
                SELECT doc_id,
                       text || ' user' || CAST(doc_id AS VARCHAR)
                            || '@example.com call 555-123-4567 from 10.0.0.'
                            || CAST(doc_id % 256 AS VARCHAR) || ' end' AS text
                FROM documents
                WHERE doc_id < 200 AND strlen(text) = length(text)
            ), red AS (
                SELECT doc_id,
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   text,
                                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                                   '<EMAIL>', 'g'),
                               '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}',
                               '<PHONE>', 'g'),
                           '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                           '<IP>', 'g') AS t
                FROM planted
            )
            SELECT doc_id, md5(t) AS redacted_md5,
                   CAST(length(t) AS BIGINT) AS n_chars_redacted
            FROM red
        """,
        "vocab_topk": """
            SELECT token, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
        """,
        "corpus_sample": """
            WITH floored AS (
                SELECT doc_id, source FROM documents
                WHERE doc_id >= 0 AND length(text) >= 20
            ), capped AS (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source ORDER BY doc_id
                       ) AS rank_in_group
                FROM floored
            )
            SELECT doc_id, source, rank_in_group FROM capped
            WHERE rank_in_group <= 40
              AND ((doc_id % 1000003) * 2654435761) % 2147483647
                  % 10000 < 5000
        """,
        "simhash_near_dup": _simhash_oracle_sql(),
        "text_fingerprint": f"""
            WITH powers(e, p) AS (VALUES {_sql_poly_powers(8)}),
            d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100
                   AND length(text) >= 24
                   AND strlen(text) = length(text)),
            pos AS (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 7)) AS i
                FROM d
            ),
            chars AS (
                SELECT doc_id, i, j,
                       ascii(substring(text, CAST(i + j AS INT), 1)) AS byte
                FROM pos, unnest(generate_series(0, 7)) AS u(j)
            ),
            ph AS (
                SELECT doc_id, i,
                       CAST(sum((CAST(byte AS HUGEINT) * p) % {_M64})
                            % {_M64} AS HUGEINT) AS h0
                FROM chars JOIN powers ON powers.e = 7 - j
                GROUP BY doc_id, i
            ),
            th AS (
                SELECT doc_id, i,
                       CAST({_sql_splitmix("h0")} AS HUGEINT) AS h
                FROM ph
            ),
            sgn AS (
                SELECT doc_id, i,
                       CAST(CASE WHEN h >= 9223372036854775808
                                 THEN h - {_M64} ELSE h END AS BIGINT) AS hs
                FROM th
            ),
            winmin AS (
                SELECT doc_id, i,
                       min(hs) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp,
                       count(*) OVER (PARTITION BY doc_id) AS n
                FROM sgn
            )
            SELECT DISTINCT doc_id, fp FROM winmin WHERE i <= n - 15
        """,
        "asof_join": """
            SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
                   (SELECT epoch_us(max(p.ts)) FROM events p
                    WHERE p.user_id = c.user_id
                      AND p.event_type = 'purchase'
                      AND p.ts <= c.ts) AS asof_ts_us
            FROM events c WHERE c.event_type = 'click'
        """,
        "multimodal_features": """
            -- independent recomputation of the fake-codec pipeline:
            -- payload = sha256(str(id)) bytes x8; decode hashes the
            -- payload HEX text; f0 = mean of the 4x4 top-left pool of
            -- the 8x8 digest grid = sum(16 bytes) / 16, x1e4 = x625
            WITH ids(media_id) AS (SELECT unnest(generate_series(0, 63))),
            h1 AS (
                SELECT media_id,
                       lower(sha256(CAST(media_id AS VARCHAR))) AS hx
                FROM ids
            ),
            h2 AS (
                SELECT media_id, lower(sha256(repeat(hx, 8))) AS hx2 FROM h1
            ),
            bytes AS (
                SELECT media_id,
                       (strpos('0123456789abcdef', substring(hx2, 2*i+1, 1)) - 1) * 16 +
                       (strpos('0123456789abcdef', substring(hx2, 2*i+2, 1)) - 1) AS b
                FROM h2,
                     unnest([0,1,2,3,8,9,10,11,16,17,18,19,24,25,26,27]) AS u(i)
            )
            SELECT media_id, CAST(8 AS BIGINT) AS width,
                   CAST(8 AS BIGINT) AS height,
                   CAST(sum(b) * 625 AS BIGINT) AS f0_x1e4
            FROM bytes GROUP BY media_id
        """,
        "interval_join": """
            SELECT c.event_id AS click_id, s.event_id AS signup_id
            FROM events c JOIN events s
              ON c.event_type = 'click' AND s.event_type = 'signup'
             AND c.user_id < 10 AND s.user_id < 10
             AND epoch_us(s.ts) <= epoch_us(c.ts)
             AND epoch_us(c.ts) < epoch_us(s.ts) + 3600000000
        """,
        # Independent re-derivation of _q_x5_preset_filter's tag rules:
        # booleans for key presence, CASE for values, each preset's
        # semantics hand-written (grammar NOT shared with the compiler).
        "x5_preset_filter": """
            WITH t AS (
                SELECT CAST(p_partkey AS BIGINT) AS k,
                       (p_partkey % 3) <> 0 AS has_name,
                       (p_partkey % 2) = 0 AS has_route,
                       CASE (p_partkey % 5)
                            WHEN 0 THEN 'bus' WHEN 1 THEN 'tram'
                            WHEN 2 THEN 'ferry' WHEN 3 THEN 'car'
                            ELSE 'light_rail' END AS route_v,
                       (p_partkey % 7) = 0 AS has_route_master,
                       (p_partkey % 4) = 1 AS has_admin_level,
                       (p_partkey % 6) < 3 AS has_boundary,
                       CASE WHEN (p_partkey % 5) < 3 THEN 'administrative'
                            ELSE 'maritime' END AS boundary_v
                FROM part
            )
            SELECT 'admin_areas' AS preset, COUNT(*) AS n_match,
                   CAST(SUM(k) AS BIGINT) AS sum_key
            FROM t WHERE has_name AND has_admin_level AND has_boundary
                     AND boundary_v = 'administrative'
            UNION ALL
            SELECT 'ptv2', COUNT(*), CAST(SUM(k) AS BIGINT)
            FROM t WHERE has_name AND has_route AND route_v IN
                  ('bus','tram','train','subway','light_rail',
                   'monorail','trolleybus')
            UNION ALL
            SELECT 'ptv2_strict', COUNT(*), CAST(SUM(k) AS BIGINT)
            FROM t WHERE has_name AND has_route_master AND has_route
                     AND route_v IN
                  ('bus','tram','train','subway','light_rail',
                   'monorail','trolleybus')
        """,
        "ngram_jaccard": """
            WITH d AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE doc_id < 200
            ), pos AS (
                SELECT doc_id, w,
                       unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
                FROM d
            ), g AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM pos
            ), sz AS (
                SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM g a JOIN g b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_common, sa.n + sb.n - n_common AS n_union
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n + sb.n - n_common) >= 0.15
        """,
        "emb_near_dup": """
            WITH base AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 5000000 AS vec_id,
                       list_transform(embedding, x -> x + 0.001) AS embedding
                FROM embeddings WHERE vec_id % 25 = 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM base a JOIN base b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
        """,
        "knn_geo": f"""
            WITH q AS (
                SELECT event_id AS query_id,
                       ((event_id * 7 + user_id * 13) % 4000) / 1000.0 - 2.0 AS lat,
                       (event_id * 3 % 4000) / 1000.0 - 80.0 AS lon
                FROM events WHERE event_id % 101 = 0
            ), c AS (
                SELECT p_partkey AS cand_id,
                       (p_partkey * 13 % 4000) / 1000.0 - 2.0 AS lat,
                       (p_partkey * 7 % 4000) / 1000.0 - 80.0 AS lon
                FROM part
            )
            SELECT query_id, cand_id, rank FROM (
                SELECT q.query_id, c.cand_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_HAVERSINE_SQL.format(lat1='q.lat', lon1='q.lon', lat2='c.lat', lon2='c.lon')},
                                    c.cand_id) AS rank
                FROM q CROSS JOIN c
            ) WHERE rank <= 3
        """,
        "within_dist_geo": f"""
            WITH p AS (
                SELECT event_id AS point_id,
                       ((event_id * 7 + user_id * 13) % 4000) / 1000.0 - 2.0 AS lat,
                       (event_id * 3 % 4000) / 1000.0 - 80.0 AS lon
                FROM events WHERE event_id % 211 = 0
            ), s AS (
                SELECT p_partkey AS stop_id,
                       (p_partkey * 13 % 4000) / 1000.0 - 2.0 AS lat,
                       (p_partkey * 7 % 4000) / 1000.0 - 80.0 AS lon
                FROM part
            )
            SELECT point_id, stop_id
            FROM p CROSS JOIN s
            WHERE {_HAVERSINE_SQL.format(lat1='p.lat', lon1='p.lon', lat2='s.lat', lon2='s.lon')} <= 5000.0
        """,
        "w6_pip": """
            WITH p AS (
                SELECT event_id AS point_id,
                       ((event_id * 7 + user_id * 13) % 4000) / 1000.0 - 2.0 AS lat,
                       (event_id * 3 % 4000) / 1000.0 - 80.0 AS lon
                FROM events
            )
            SELECT point_id, CAST(1 AS BIGINT) AS poly_id FROM p
            WHERE lat > -1.4995 AND lat < -0.3005
              AND lon > -79.4995 AND lon < -78.2005
            UNION ALL
            -- triangle A(-79.9985,1.8015) B(-76.8005,0.1005) C(-79.0005,-1.7005),
            -- clockwise: interior iff all edge cross products negative
            SELECT point_id, CAST(2 AS BIGINT) AS poly_id FROM p
            WHERE ((-76.8005) - (-79.9985)) * (lat - 1.8015)
                  - ((0.1005) - (1.8015)) * (lon - (-79.9985)) < 0
              AND ((-79.0005) - (-76.8005)) * (lat - 0.1005)
                  - ((-1.7005) - (0.1005)) * (lon - (-76.8005)) < 0
              AND ((-79.9985) - (-79.0005)) * (lat - (-1.7005))
                  - ((1.8015) - (-1.7005)) * (lon - (-79.0005)) < 0
        """,
        "w9_lineage": """
            SELECT 's1_filter' AS stage, CAST(count(*) AS BIGINT) AS n_rows
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT 's2_agg', count(DISTINCT user_id)
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT 's3_top', count(*) FROM (
                SELECT user_id FROM events WHERE event_type = 'click'
                GROUP BY user_id HAVING count(*) >= 3
            )
        """,
        "lang_id_lib": f"""
            SELECT doc_id,
                   CASE WHEN en > es THEN 'en'
                        WHEN es > en THEN 'es'
                        ELSE 'und' END AS lang_guess
            FROM (
                SELECT doc_id,
                       {_marker_sum_sql(("the", "and", "of", "is", "to"))} AS en,
                       {_marker_sum_sql(("de", "la", "el", "que", "los"))} AS es
                FROM documents
            )
        """,
        "events_windowed": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type, count(*) AS cnt
            FROM events GROUP BY 1, 2
        """,
        "ngram_jaccard_planted": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id < 150 AND strlen(text) = length(text)
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text || ' tail' AS text
                FROM documents
                WHERE doc_id < 150 AND doc_id % 20 = 0
                  AND strlen(text) = length(text)
            ), d AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM base
            ), pos AS (
                SELECT doc_id, w,
                       unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
                FROM d
            ), g AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM pos
            ), sz AS (
                SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM g a JOIN g b USING (gram)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_common, sa.n + sb.n - n_common AS n_union
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
        """,
    }
