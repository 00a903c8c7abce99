"""Dedup / similarity / text-stats operators on the documents +
embeddings testdata, with numpy/python oracles computed in-test."""

import numpy as np
import pytest

from pyspark.sql import Observation
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _simhash_one_reference(t: str) -> int:
    """The per-doc SimHash formulation ``_simhash_batch`` replaced, kept
    as its equivalence reference."""
    from osmptparser_spark.operators.dedup import _segment_hashes

    tokens = t.split()
    if not tokens:
        return 0
    raw = [tok.encode("utf-8") for tok in tokens]
    lens = np.fromiter((len(r) for r in raw), dtype=np.int64, count=len(raw))
    buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    hs = _segment_hashes(buf, starts, ends)
    bits_m = np.unpackbits(
        hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    votes = 2 * bits_m.sum(axis=0, dtype=np.int64) - len(tokens)
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    h = int((weights * (votes > 0).astype(np.uint64)).sum(dtype=np.uint64))
    return h - (1 << 64) if h >= (1 << 63) else h


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_oracle(self, spark, docs):
        from osmptparser_spark.operators.dedup import dedup_exact

        rows = docs.select("doc_id", "text").collect()
        byt = {}
        for r in rows:
            byt.setdefault(r.text, []).append(r.doc_id)
        got = {r.text_hash: (r.keep_id, r.n_copies) for r in dedup_exact(docs).collect()}
        assert sum(n for _, n in got.values()) == len(rows)
        want_groups = sorted((min(v), len(v)) for v in byt.values())
        assert sorted(got.values()) == want_groups

    def test_minhash_lsh_finds_planted_near_dups(self, spark, docs):
        from osmptparser_spark.operators.dedup import minhash_lsh_pairs

        # plant near-duplicates: copy 5 docs with a tiny suffix edit
        base = docs.limit(5).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" xyzzy")).alias("text"),
        )
        d = docs.select("doc_id", "text").unionByName(base)
        pairs = minhash_lsh_pairs(d, threshold=0.6).collect()
        found = {(p.id_a, p.id_b) for p in pairs}
        for r in docs.limit(5).collect():
            assert (r.doc_id, r.doc_id + 1_000_000) in found
        for p in pairs:
            assert p.jaccard >= 0.6

    def test_minhash_jaccard_is_exact_shingle_jaccard(self, spark, docs):
        from osmptparser_spark.operators.dedup import _shingle_hashes, minhash_lsh_pairs

        base = docs.limit(3).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" x")).alias("text"),
        )
        d = docs.limit(3).select("doc_id", "text").unionByName(base)
        texts = {r.doc_id: r.text for r in d.collect()}
        for p in minhash_lsh_pairs(d, threshold=0.2).collect():
            sa = set(_shingle_hashes(texts[p.id_a], 9).tolist())
            sb = set(_shingle_hashes(texts[p.id_b], 9).tolist())
            want = len(sa & sb) / len(sa | sb)
            assert abs(p.jaccard - want) < 1e-9

    def test_simhash_near_dups(self, spark, docs):
        from osmptparser_spark.operators.dedup import simhash_near_dup_pairs

        # exact copies (hamming 0) MUST all be found (pigeonhole banding
        # guarantee); a one-token edit is found only if it moves <= 3 bits
        copies = docs.limit(5).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        edited = docs.limit(5).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat("text", F.lit(" q")).alias("text"),
        )
        d = docs.select("doc_id", "text").unionByName(copies).unionByName(edited)
        pairs = simhash_near_dup_pairs(d, max_hamming=3).collect()
        found = {(p.id_a, p.id_b) for p in pairs}
        for r in docs.limit(5).collect():
            assert (r.doc_id, r.doc_id + 1_000_000) in found
        assert all(p.hamming <= 3 for p in pairs)
        # verify reported hamming against a python oracle
        from osmptparser_spark.operators.dedup import simhash_df

        hashes = {r.doc_id: r.simhash for r in simhash_df(d).collect()}
        for p in pairs:
            assert p.hamming == bin(
                (hashes[p.id_a] ^ hashes[p.id_b]) & ((1 << 64) - 1)
            ).count("1")

    def test_ngram_jaccard_pairs_exact(self, spark, docs):
        from osmptparser_spark.operators.dedup import ngram_jaccard_pairs

        d = docs.limit(40).select("doc_id", "text")
        got = {
            (p.id_a, p.id_b): p.jaccard
            for p in ngram_jaccard_pairs(d, n=3, threshold=0.05).collect()
        }
        rows = {r.doc_id: r.text for r in d.collect()}

        def grams(t):
            w = t.split(" ")
            return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 3 + 1, 1))}

        ids = sorted(rows)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                ga, gb = grams(rows[a]), grams(rows[b])
                j = len(ga & gb) / len(ga | gb)
                if j >= 0.05:
                    assert (a, b) in got and abs(got[(a, b)] - j) < 1e-9
                else:
                    assert (a, b) not in got

    def test_hot_bucket_cap_bounds_degenerate_corpus(self, spark):
        from osmptparser_spark.operators.dedup import minhash_lsh_pairs

        boiler = [(i, "the same boilerplate page body " * 10) for i in range(300)]
        distinct = [
            (1000 + i, f"unique document {i} " + " ".join(f"w{i}{j}" for j in range(60)))
            for i in range(10)
        ]
        planted = [(2000 + i, t + " tail") for i, (_, t) in enumerate(distinct)]
        df = spark.createDataFrame(
            boiler + distinct + planted, "doc_id BIGINT, text STRING"
        )
        obs = Observation("minhash_cap")
        pairs = minhash_lsh_pairs(
            df, threshold=0.5, max_bucket_size=64, observation=obs
        ).collect()
        found = {(p.id_a, p.id_b) for p in pairs}
        for i in range(10):
            assert (1000 + i, 2000 + i) in found
        # boilerplate flood was capped, visibly (not silently)
        assert obs.get["minhash_rows_dropped"] > 0
        # and no quadratic boilerplate pair survived into the output
        assert not any(a < 300 and b < 300 for a, b in found)

    def test_simhash_vectorized_matches_planted(self, spark):
        from osmptparser_spark.operators.dedup import simhash_df, simhash_near_dup_pairs

        docs = [
            (i, f"alpha beta gamma delta {i} " + " ".join(f"t{j}" for j in range(30)))
            for i in range(20)
        ]
        copies = [(100 + i, t) for i, (_, t) in enumerate(docs[:5])]
        df = spark.createDataFrame(docs + copies, "doc_id BIGINT, text STRING")
        pairs = simhash_near_dup_pairs(df, max_hamming=3).collect()
        found = {(p.id_a, p.id_b) for p in pairs}
        for i in range(5):
            assert (i, 100 + i) in found
        hashes = {r.doc_id: r.simhash for r in simhash_df(df).collect()}
        for p in pairs:
            assert p.hamming == bin(
                (hashes[p.id_a] ^ hashes[p.id_b]) & ((1 << 64) - 1)
            ).count("1")

    def test_ngram_observation_reports_cap(self, spark):
        from osmptparser_spark.operators.dedup import ngram_jaccard_pairs

        # 50 docs sharing hot grams (capped away) + one identical pair of
        # unique docs: the output must stay non-empty, else AQE's
        # empty-relation propagation prunes the observed subtree and the
        # metrics never materialize
        rows = [(i, "x y z common tail " + f"doc{i}") for i in range(50)]
        rows += [(200, "uniq pair alpha beta gamma"), (201, "uniq pair alpha beta gamma")]
        df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        obs = Observation("ngram_cap")
        pairs = ngram_jaccard_pairs(
            df, n=3, threshold=0.9, max_ngram_freq=10, observation=obs
        ).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(200, 201)}
        assert obs.get["ngram_rows_dropped"] > 0

    def test_simhash_batch_matches_per_doc_reference(self):
        from osmptparser_spark.operators.dedup import _simhash_batch

        rng = np.random.default_rng(7)
        vocab = ["alpha", "beta", "gamma", "zqxjv", "tail", "ünïcode", "x"]
        texts = []
        for i in range(200):
            n = int(rng.integers(0, 40))
            texts.append(" ".join(rng.choice(vocab, n)))
        # edge cases: empty, whitespace-only, tabs/newlines, single token
        texts += ["", "   ", "\t\n ", "solo", " lead", "trail "]
        got = _simhash_batch(texts)
        want = np.array([_simhash_one_reference(t) for t in texts], dtype=np.int64)
        assert np.array_equal(got, want)

    def test_minhash_hash_family_spreads_argmins(self):
        """Each MinHash lane must be a well-mixed hash: over one ~600
        shingle document the 64 lanes pick nearly all-distinct argmin
        shingles, and a pair's lane agreement tracks its exact Jaccard.
        (A family that barely wraps its modulus lets the smallest
        shingles win most lanes: 8-47 distinct argmins here, and pairs
        at Jaccard ~0.88 agreeing on as few as 30% of lanes.)"""
        from osmptparser_spark.operators.dedup import (
            _MERSENNE,
            _min_sig,
            _minhash_params,
            _shingle_hashes,
        )

        m = 64
        a, b = _minhash_params(m, 42)
        rng = np.random.default_rng(11)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, int(n))) for n in rng.integers(3, 10, 2000)]
        for _ in range(20):
            words = list(rng.choice(vocab, 90))
            base = " ".join(words)
            for _ in range(3):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            sa = _shingle_hashes(base, 9)
            sb = _shingle_hashes(" ".join(words), 9)
            # per-shingle lane hashes: one single-shingle "document" each
            lanes = _min_sig([sa[i : i + 1] for i in range(len(sa))], a, b, m)
            sig = _min_sig([sa, sb], a, b, m)
            assert np.array_equal(sig[0], lanes.min(axis=0))
            assert len(set(lanes.argmin(axis=0).tolist())) >= 0.85 * m
            jac = len(np.intersect1d(sa, sb)) / len(np.union1d(sa, sb))
            assert abs((sig[0] == sig[1]).mean() - jac) <= 0.15
        # the branchless fold is exactly (a*x + b) mod p
        x = sa[:5].view(np.uint64)
        x = [((int(v) >> 32) ^ (int(v) & 0xFFFFFFFF)) % _MERSENNE for v in x]
        want = [[(int(ai) * xi + int(bi)) % _MERSENNE for ai, bi in zip(a, b)] for xi in x]
        assert lanes[:5].tolist() == want

    def test_minhash_broadcast_and_shuffle_verify_agree(self, spark, monkeypatch):
        from osmptparser_spark.operators import dedup

        rows = []
        base = "the quick brown fox jumps over the lazy dog " * 4
        for i in range(40):
            rows.append((i, base + f"suffix {i % 5}"))
        rows.append((1000, base + "suffix 0 tail"))
        df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        cols = ["id_a", "id_b", "n_common", "n_union"]

        def run():
            out = dedup.minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=256)
            got = sorted(tuple(r) for r in out.select(cols).collect())
            return got, out._jdf.queryExecution().executedPlan().toString()

        # only the verify join's own hints may broadcast here
        keys = [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ]
        saved = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, "-1")
            bcast, bcast_plan = run()
            monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_BYTES", 0)
            shuf, shuf_plan = run()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert bcast == shuf and len(bcast) > 0
        assert "BroadcastHashJoin" in bcast_plan
        assert "BroadcastHashJoin" not in shuf_plan

    def test_simhash_join_rooted_input_starts_no_job(self, spark):
        """Building the plan probes no partition count on a join-rooted
        input (the probe would run the join once just to read it)."""
        from osmptparser_spark.operators.dedup import simhash_df, simhash_near_dup_pairs

        texts = [(i, f"alpha beta gamma {i} " + " ".join(f"t{j}" for j in range(20))) for i in range(20)]
        texts += [(100 + i, t) for i, t in texts[:4]]
        docs = spark.createDataFrame(texts, "doc_id BIGINT, text STRING")
        keep = spark.createDataFrame([(i,) for i, _ in texts], "doc_id BIGINT")
        joined = docs.join(keep, "doc_id")
        sc = spark.sparkContext
        group = "test-simhash-join-rooted-build"
        sc.setJobGroup(group, group)
        try:
            pairs = simhash_near_dup_pairs(joined, max_hamming=3)
            plan = simhash_df(joined)._jdf.queryExecution().executedPlan().toString()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert "RoundRobinPartitioning" not in plan
        found = {(p.id_a, p.id_b) for p in pairs.collect()}
        assert {(i, 100 + i) for i in range(4)} <= found

    def test_simhash_single_split_scan_spreads(self, spark, tmp_path):
        from osmptparser_spark.operators.dedup import simhash_df

        path = str(tmp_path / "one_split")
        spark.createDataFrame(
            [(i, f"doc {i} text") for i in range(40)], "doc_id BIGINT, text STRING"
        ).coalesce(1).write.parquet(path)
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() == 1
        plan = simhash_df(df)._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan
        assert simhash_df(df).count() == 40


class TestSimilarity:
    def test_lsh_recall_vs_bruteforce(self, spark, embs):
        from osmptparser_spark.operators.similarity import (
            ann_lsh_topk,
            cosine_topk_bruteforce,
        )

        q = embs.filter(F.col("vec_id") < 30)
        # testdata embeddings are unstructured (top-5 cosine ~0.32), so
        # recall needs few planes / many tables; real clustered
        # embeddings would use more planes for smaller buckets
        brute = cosine_topk_bruteforce(q, embs, k=5)
        approx = ann_lsh_topk(q, embs, k=5, planes=4, tables=16)
        b = {(r.qid, r.cid) for r in brute.collect()}
        a = {(r.qid, r.cid) for r in approx.collect()}
        recall = len(a & b) / len(b)
        assert recall > 0.7, f"LSH recall {recall}"

    def test_bruteforce_matches_numpy(self, spark, embs):
        from osmptparser_spark.operators.similarity import cosine_topk_bruteforce

        rows = embs.collect()
        ids = np.array([r.vec_id for r in rows])
        M = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        sims = Mn @ Mn.T
        got = {}
        for r in cosine_topk_bruteforce(
            embs.filter(F.col("vec_id") < 10), embs, k=3
        ).collect():
            got.setdefault(r.qid, []).append((r.rank, r.cid))
        for qid, lst in got.items():
            qi = np.where(ids == qid)[0][0]
            s = sims[qi].copy()
            s[qi] = -np.inf
            order = np.lexsort((ids, -s))
            want = [int(ids[j]) for j in order[:3]]
            assert [c for _, c in sorted(lst)] == want

    def test_embedding_near_dup_planted(self, spark, embs):
        from osmptparser_spark.operators.similarity import embedding_near_dup_pairs

        # plant near-dup vectors: tiny perturbation of 5 vectors
        rows = embs.limit(5).collect()
        planted = [
            (
                r.vec_id + 1_000_000,
                [float(x) + 0.001 for x in r.embedding],
                r.label,
            )
            for r in rows
        ]
        d = embs.unionByName(
            spark.createDataFrame(
                planted, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
            )
        )
        pairs = embedding_near_dup_pairs(d, threshold=0.999)
        found = {(p.id_a, p.id_b) for p in pairs.collect()}
        for r in rows:
            assert (r.vec_id, r.vec_id + 1_000_000) in found

    def test_cosine_kernel_matches_hof_reference(self, spark):
        """The Arrow cosine kernel must rank identically to the JVM
        higher-order-function formulation it replaced (kept here as the
        reference), on adversarially close vectors."""
        from pyspark.sql.window import Window

        from osmptparser_spark.operators.similarity import cosine_topk_bruteforce

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
        w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
        hof = (
            q.crossJoin(c)
            .filter(F.col("qid") != F.col("cid"))
            .withColumn("cos", dot / (norm(F.col("qv")) * norm(F.col("cv"))))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("qid", "cid", "rank", "cos")
        )
        want = {(r.qid, r.cid, r.rank): r.cos for r in hof.collect()}
        got = {
            (r.qid, r.cid, r.rank): r.cos_sim
            for r in cosine_topk_bruteforce(df.filter(F.col("vec_id") < 5), df).collect()
        }
        assert sorted(got) == sorted(want) and len(want) == 15
        for key, cos in want.items():
            assert got[key] == pytest.approx(cos, rel=1e-12, abs=1e-12)

    def test_bruteforce_broadcasts_queries_not_candidates(self, spark, embs):
        # the candidate table is the unbounded side: the only broadcast
        # in the plan carries the query vectors (qid/qv), never cid/cv
        import re

        from osmptparser_spark.operators.similarity import cosine_topk_bruteforce

        out = cosine_topk_bruteforce(embs.filter(F.col("vec_id") < 10), embs, k=3)
        plan = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        inputs = re.findall(
            r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[[^\]]*\])", plan
        )
        assert inputs, plan
        for cols in inputs:
            assert "qv" in cols and "cv" not in cols and "cid" not in cols, cols


class TestTextStats:
    def test_stats_and_oracle(self, spark, docs):
        from osmptparser_spark.functions.text import (
            lang_id,
            quality_score,
            token_count_ws,
        )

        t = F.col("text")
        df = docs.limit(50).select(
            "text",
            F.length(t).cast("long").alias("n_chars_calc"),
            token_count_ws(t).alias("n_tokens_ws"),
            quality_score(t).alias("quality"),
            lang_id(t).alias("lang_guess"),
        )
        for r in df.collect():
            toks = r.text.split()
            assert r.n_tokens_ws == len(toks)
            assert r.n_chars_calc == len(r.text)
            assert 0.0 <= r.quality <= 1.0
            assert r.lang_guess in ("en", "es", "und")

    def test_fingerprints_detect_overlap(self, spark, docs):
        from osmptparser_spark.functions.text import fingerprint_df

        d = docs.limit(10).select("doc_id", "text")
        fps = {r.doc_id: set(r.fingerprints) for r in fingerprint_df(d).collect()}
        # identical docs share all fingerprints; distinct docs share few
        for did, f in fps.items():
            assert len(f) > 0
