"""Dedup / text / similarity operators vs DuckDB oracles at sf0.001.

Mirrors the driver's correctness gate inside pytest (fast scale) so
`python -m pytest -x -q` covers the full operator surface."""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

TABLES = ("documents", "embeddings", "events")


@pytest.fixture(scope="module")
def con(sf001_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf001_dir}/{t}.parquet'")
    return c


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        return float(v) if isinstance(v, float) and not math.isnan(v) else v

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def compare(df, con, sql):
    rows = [tuple(r) for r in df.collect()]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(c.lower() for c in df.columns) == sorted(c.lower() for c in ocols)
    assert rowset(df.columns, rows) == rowset(ocols, orows)
    return len(rows)


@pytest.fixture(scope="module")
def docs(spark, sf001_dir):
    return spark.read.parquet(os.path.join(sf001_dir, "documents.parquet"))


class TestTextOps:
    def test_token_stats(self, docs, con):
        from cms_topn_spark.operators import textops

        compare(textops.token_stats(docs), con, textops.token_stats_sql())

    def test_lang_id(self, docs, con):
        from cms_topn_spark.operators import textops

        compare(textops.lang_id(docs), con, textops.lang_id_sql())

    def test_quality_score(self, docs, con):
        from cms_topn_spark.operators import textops

        compare(textops.quality_score(docs), con, textops.quality_score_sql())

    def test_fingerprints(self, docs, con):
        from cms_topn_spark.operators import textops

        compare(textops.fingerprints(docs), con, textops.fingerprints_sql())

    def test_tfidf_top_terms(self, docs, con, spark):
        import duckdb

        from cms_topn_spark.operators import textops

        compare(textops.tfidf_top_terms(docs, k=3), con, textops.tfidf_top_terms_sql(k=3))
        # hand-checkable micro corpus: 'rare' appears in one doc, 'the' in all
        rows = [
            (1, "the cat sat rare"),
            (2, "the cat ran"),
            (3, "the dog ran ran"),
        ]
        edge = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
            for r in textops.tfidf_top_terms(edge, k=2).collect()
        }
        # doc 1: rare and sat both df=1 -> tie at 1.0 -> 'rare' < 'sat'
        assert got[(1, 1)] == ("rare", 1, 1) and got[(1, 2)] == ("sat", 1, 1)
        # doc 3: ran tf=2 df=2 -> 1.0 beats dog 1/1=1.0 tie -> 'dog' < 'ran'
        assert got[(3, 1)] == ("dog", 1, 1) and got[(3, 2)] == ("ran", 2, 2)
        c = duckdb.connect()
        c.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        c.executemany("INSERT INTO d VALUES (?, ?)", rows)
        oracle = {
            (r[0], r[4]): (r[1], r[2], r[3])
            for r in c.execute(textops.tfidf_top_terms_sql("d", k=2)).fetchall()
        }
        assert got == oracle

    def test_repetition_stats(self, docs, con, spark):
        import duckdb

        from cms_topn_spark.operators import textops

        compare(textops.repetition_stats(docs), con, textops.repetition_stats_sql())
        # edge cases: empty text, single token, all-repeats, alternating pair
        rows = [(1, ""), (2, "a"), (3, "a a a a"), (4, "x y x y x y")]
        edge = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["dup_token_fx"], r["top_bigram_fx"]) for r in
               textops.repetition_stats(edge).collect()}
        assert got[1] == (0, 0) and got[2] == (0, 0)
        assert got[3] == (750000, 1000000)  # 4×"a": 3/4 dups, "a a" is every bigram
        assert got[4] == (666666, 600000)  # "x y" appears 3 of 5 bigrams
        c = duckdb.connect()
        c.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        c.executemany("INSERT INTO d VALUES (?, ?)", rows)
        oracle = {r[0]: (r[3], r[5]) for r in c.execute(textops.repetition_stats_sql("d")).fetchall()}
        assert got == oracle


class TestDedup:
    def test_exact_dedup(self, docs, con):
        from cms_topn_spark.operators import dedup

        compare(dedup.exact_dedup(docs), con, dedup.exact_dedup_sql())

    def test_jaccard_exact_and_lsh_agree(self, docs, con):
        from cms_topn_spark.operators import dedup

        n = compare(dedup.jaccard_pairs_exact(docs, 0.8), con, dedup.jaccard_pairs_sql())
        n2 = compare(dedup.minhash_lsh_pairs(docs, 0.8), con, dedup.jaccard_pairs_sql())
        assert n == n2  # LSH recall = 1 at this threshold/band config

    def test_null_doc_id_flows_through_and_never_pairs(self, spark):
        """A NULL doc_id reaches the kernels as a NULL Arrow value, not a
        float NaN: the jobs run, and the NULL id can never satisfy the
        a.doc_id < b.doc_id band join, so it never pairs — the same answer
        as the exact all-pairs form."""
        from cms_topn_spark.operators import dedup

        base = "the quick brown fox jumps over the lazy dog by the river bank "
        rows = [
            (1, base + "alpha"),
            (2, base + "alpha!"),
            (None, base + "alpha"),  # a copy of doc 1 with no id
            (4, "an unrelated document body with different words 12345"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        lsh = {(r["a_id"], r["b_id"]) for r in dedup.minhash_lsh_pairs(df, 0.8).collect()}
        exact = {(r["a_id"], r["b_id"]) for r in dedup.jaccard_pairs_exact(df, 0.8).collect()}
        assert lsh == exact == {(1, 2)}
        sigs = [(r["doc_id"], r["simhash"]) for r in dedup.simhash(df).collect()]
        assert sorted(i for i, _ in sigs if i is not None) == [1, 2, 4]
        by_id = dict(sigs)
        assert len(sigs) == 4 and by_id[None] == by_id[1]
        assert dedup.winnow_fingerprints(df).where(F.col("doc_id").isNull()).count() > 0

    def test_jaccard_pruned_matches_oracle(self, docs, con):
        from cms_topn_spark.operators import dedup

        compare(
            dedup.jaccard_pairs_pruned(docs, 0.8, max_df=20),
            con,
            dedup.jaccard_pairs_pruned_sql("documents", 0.8, 20),
        )

    def test_incremental_near_dup_equals_batch_vs_all(self, docs, spark, tmp_path):
        """Index the prior corpus once, dedup the batch against it — the
        pair set must equal the batch-touching subset of the full-corpus
        operator at the same threshold (round-7 verdict #4)."""
        from cms_topn_spark.operators import dedup

        old = docs.where("doc_id % 3 != 0")
        batch = docs.where("doc_id % 3 = 0")
        idx = dedup.minhash_index_build(old, str(tmp_path / "mh_idx"))
        got = {
            (r["a_id"], r["b_id"])
            for r in dedup.incremental_near_dup(batch, idx, 0.8).collect()
        }
        full = {
            (r["a_id"], r["b_id"]) for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()
        }
        expect = {(a, b) for a, b in full if a % 3 == 0 or b % 3 == 0}
        assert expect, "fixture should contain batch-touching near-dup pairs"
        assert got == expect
        # prior-vs-prior pairs must NOT appear (they were deduped when the
        # prior corpus was built; re-emitting them every batch is rework)
        assert all(a % 3 == 0 or b % 3 == 0 for a, b in got)

    def test_incremental_near_dup_index_serves_many_batches(self, docs, spark, tmp_path):
        """One build, several batch queries through the LOADED stage — the
        serve-many lifecycle; and nothing stays persisted after the call."""
        from cms_topn_spark.operators import dedup

        old = docs.where("doc_id % 3 != 0")
        d = str(tmp_path / "mh_idx2")
        dedup.minhash_index_build(old, d)
        idx = dedup.minhash_index_load(spark, d)
        full = {
            (r["a_id"], r["b_id"]) for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()
        }
        for half in (0, 1):  # two disjoint sub-batches of the %3==0 docs
            batch = docs.where(f"doc_id % 3 = 0 AND (doc_id div 3) % 2 = {half}")
            before = spark.sparkContext._jsc.getPersistentRDDs().size()
            out = dedup.incremental_near_dup(batch, idx, 0.8)
            # the eagerly-checkpointed OUTPUT holds one cache entry by
            # design; the batch-features persist must be gone (no leak)
            after = spark.sparkContext._jsc.getPersistentRDDs().size()
            assert after - before <= 1
            got = {(r["a_id"], r["b_id"]) for r in out.collect()}
            bids = {r["doc_id"] for r in batch.select("doc_id").collect()}
            expect = {(a, b) for a, b in full if (a in bids or b in bids)
                      and (a in bids or a % 3 != 0) and (b in bids or b % 3 != 0)}
            assert got == expect

    def test_incremental_near_dup_planted_edges(self, spark, tmp_path):
        """Deterministic micro-corpus pinning the three pair classes:
        batch-vs-prior found, batch-vs-batch found, prior-vs-prior excluded."""
        from cms_topn_spark.operators import dedup

        text_a = "the quick brown fox jumps over the lazy dog again and again"
        text_b = "completely unrelated content about distributed sketches ok"
        old = spark.createDataFrame(
            [(10, text_a), (11, text_a), (12, text_b)], "doc_id long, text string"
        )  # 10-11: a prior-vs-prior dup that must NOT re-emit
        batch = spark.createDataFrame(
            [(20, text_a), (21, text_a), (22, "nothing like the others here")],
            "doc_id long, text string",
        )
        idx = dedup.minhash_index_build(old, str(tmp_path / "mh_edge"))
        got = {
            (r["a_id"], r["b_id"])
            for r in dedup.incremental_near_dup(batch, idx, 0.9).collect()
        }
        assert got == {(10, 20), (10, 21), (11, 20), (11, 21), (20, 21)}

    def test_incremental_near_dup_append_grows_index(self, docs, spark, tmp_path):
        """dedup batch1 → append it → batch2 must see batch1 as prior
        corpus: the closing step of the incremental lifecycle."""
        from cms_topn_spark.operators import dedup

        old = docs.where("doc_id % 3 = 1")
        b1 = docs.where("doc_id % 3 = 2")
        b2 = docs.where("doc_id % 3 = 0")
        d = str(tmp_path / "mh_grow")
        idx = dedup.minhash_index_build(old, d)
        dedup.incremental_near_dup(b1, idx, 0.8).collect()  # dedup step
        idx2 = dedup.minhash_index_append(b1, d)
        assert idx2.count() == docs.where("doc_id % 3 != 0").count()
        got = {
            (r["a_id"], r["b_id"])
            for r in dedup.incremental_near_dup(b2, idx2, 0.8).collect()
        }
        full = {
            (r["a_id"], r["b_id"]) for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()
        }
        expect = {(a, b) for a, b in full if a % 3 == 0 or b % 3 == 0}
        assert got == expect

    def test_incremental_near_dup_fuzz_equals_full_subset(self, spark):
        """Hypothesis fuzz of the incremental invariant: for ANY corpus and
        ANY old/batch split, incremental_near_dup == the batch-touching
        subset of the full-corpus operator. Engine-vs-engine with the SAME
        band scheme and the same exact verify, so equality is exact — no
        banding-miss probability can separate the two sides. The
        empty-prior split (every doc in the batch) must equal
        minhash_lsh_pairs exactly: the full operator is the empty-index
        case of the shared band join."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from cms_topn_spark.operators import dedup

        base = [
            "the quick brown fox jumps over the lazy dog",
            "pack my box with five dozen liquor jugs",
            "abc",  # shorter than the gram width: one zero-padded gram
        ]
        text = st.builds(
            lambda b, s: b + s,
            st.sampled_from(base),
            st.sampled_from(["", " x", " extra tail words", "!"]),
        )

        @settings(
            max_examples=6,
            deadline=None,
            suppress_health_check=[
                HealthCheck.too_slow,
                HealthCheck.function_scoped_fixture,
            ],
        )
        @given(texts=st.lists(text, min_size=2, max_size=10))
        def run(texts):
            rows = [(i, t) for i, t in enumerate(texts)]
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            full = {
                (r["a_id"], r["b_id"])
                for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()
            }
            # batch = doc_id % m == 0; m = 1 leaves the prior corpus empty,
            # so there the expected set is all of minhash_lsh_pairs
            for m in (3, 1):
                old = docs.where(f"doc_id % {m} != 0")
                batch = docs.where(f"doc_id % {m} = 0")
                feats = dedup.minhash_doc_features(old)
                got = {
                    (r["a_id"], r["b_id"])
                    for r in dedup.incremental_near_dup(batch, feats, 0.8).collect()
                }
                expect = {(a, b) for a, b in full if a % m == 0 or b % m == 0}
                assert got == expect

        run()

    def test_jaccard_pruning_changes_semantics_deterministically(self, spark, con):
        """Planted corpus where a ubiquitous shingle flips pairs across the
        threshold: pruned != exact, and pruned == its own SQL oracle."""
        import duckdb

        from cms_topn_spark.operators import dedup

        # non-periodic boilerplate: every 8-gram inside it is distinct and
        # appears in all 4 docs (df = 4) — the ubiquitous-shingle source
        boiler = (
            "this website uses cookies to improve your experience and by "
            "continuing to browse you accept our privacy policy and terms"
        )
        rows = [
            (1, boiler + " alpha beta gamma delta epsilon zeta"),
            (2, boiler + " alpha beta gamma delta epsilon eta!"),
            (3, boiler + " totally different content here 12345"),
            (4, boiler + " another unrelated document body 9876"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        exact = {(r["a_id"], r["b_id"]) for r in dedup.jaccard_pairs_exact(df, 0.5).collect()}
        pruned = {
            (r["a_id"], r["b_id"]) for r in dedup.jaccard_pairs_pruned(df, 0.5, max_df=3).collect()
        }
        # boilerplate inflates exact similarity: unrelated docs pair at 0.5
        assert exact > pruned, (exact, pruned)
        assert pruned == {(1, 2)}  # only the genuinely-near pair survives
        c = duckdb.connect()
        c.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        c.executemany("INSERT INTO d VALUES (?, ?)", rows)
        oracle = {tuple(r) for r in c.execute(dedup.jaccard_pairs_pruned_sql("d", 0.5, 3)).fetchall()}
        assert pruned == oracle

    def test_winnow_matches_sql_oracle(self, docs, con):
        from cms_topn_spark.operators import dedup

        compare(dedup.winnow_fingerprints(docs), con, dedup.winnow_fingerprints_sql())

    def test_winnow_sql_short_doc_parity(self, spark):
        """The SQL oracle must match the operator for EVERY document length:
        NUL padding under k chars, global-min fallback under window hashes."""
        import duckdb

        from cms_topn_spark.operators import dedup

        docs = [
            (1, "abc"),
            (2, ""),
            (3, "12345678"),
            (4, "123456789"),
            (5, "12345678901"),
            (6, "a" * 12),
            (7, "hello world this is a normal length document"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r["doc_id"], r["fp"]) for r in dedup.winnow_fingerprints(df).collect()}
        c = duckdb.connect()
        c.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        c.executemany("INSERT INTO d VALUES (?, ?)", docs)
        oracle = {tuple(r) for r in c.execute(dedup.winnow_fingerprints_sql("d")).fetchall()}
        assert got == oracle

    def test_splitmix64_sql_bit_parity(self):
        import duckdb
        import numpy as np

        from cms_topn_spark.operators.dedup import _splitmix64_sql
        from cms_topn_spark.sources.webpages import _splitmix64

        rng = np.random.default_rng(7)
        vals = np.concatenate(
            [
                rng.integers(0, 2**63, 200, dtype=np.uint64) * 2
                + rng.integers(0, 2, 200, dtype=np.uint64),
                np.array([0, 1, 2**32, 2**63, 2**64 - 1], dtype=np.uint64),
            ]
        )
        expect = _splitmix64(vals.view(np.int64))
        c = duckdb.connect()
        c.execute("CREATE TABLE t (x UBIGINT)")
        c.executemany("INSERT INTO t VALUES (?)", [(int(v),) for v in vals])
        got = np.array(
            [r[0] for r in c.execute(f"SELECT {_splitmix64_sql('x')} FROM t").fetchall()],
            dtype=np.uint64,
        )
        assert np.array_equal(got, expect)

    def test_duplicate_clusters_chain_and_oracle(self, docs, con, spark):
        """Multi-hop chains need >1 propagation round; labels must reach the
        component minimum transitively, and the corpus query must match the
        recursive-CTE oracle."""
        import duckdb

        from cms_topn_spark.operators import dedup

        # chain 1-2-3-4, separate pair (10,11), star 20-(21,22)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
            "a_id long, b_id long",
        )
        got = {(r["doc_id"], r["rep_id"]) for r in dedup.duplicate_clusters(pairs).collect()}
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }
        # corpus-scale parity vs the recursive-CTE oracle
        compare(
            dedup.duplicate_clusters(dedup.minhash_lsh_pairs(docs, 0.8)),
            con,
            dedup.duplicate_clusters_sql(dedup.jaccard_pairs_sql()),
        )

    def test_simhash_matches_sql_oracle(self, docs, con, spark):
        """The whole SimHash scheme (NUL-padded packed grams → splitmix64 →
        ±1 bit votes → sign bits) recomputed bit-exactly in DuckDB, plus the
        banded near-pair operator vs the all-pairs Hamming oracle."""
        import duckdb

        from cms_topn_spark.operators import dedup

        compare(dedup.simhash(docs), con, dedup.simhash_sql())
        compare(
            dedup.simhash_near_pairs(docs, max_hamming=3),
            con,
            dedup.simhash_near_pairs_sql(max_hamming=3),
        )
        # length edge cases: empty, sub-k, exactly k, k+1
        rows = [(1, ""), (2, "a"), (3, "12345678"), (4, "abcdefghi")]
        edge = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted((r["doc_id"], r["simhash"]) for r in dedup.simhash(edge).collect())
        c = duckdb.connect()
        c.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        c.executemany("INSERT INTO d VALUES (?, ?)", rows)
        want = sorted(tuple(r) for r in c.sql(dedup.simhash_sql("d")).fetchall())
        assert got == want

    def test_simhash_near_pairs_cover_planted_dups(self, docs, spark):
        from cms_topn_spark.operators import dedup

        exact = {
            (r["a_id"], r["b_id"]) for r in dedup.jaccard_pairs_exact(docs, 0.9).collect()
        }
        sim = {
            (r["a_id"], r["b_id"]) for r in dedup.simhash_near_pairs(docs, max_hamming=6).collect()
        }
        # simhash at hamming<=6/64 should recover the vast majority of >0.9 dups
        assert exact, "fixture should contain planted near-duplicates"
        assert len(exact & sim) / len(exact) >= 0.8

    def test_simhash_deterministic(self, docs):
        from cms_topn_spark.operators import dedup

        a = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        b = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.repartition(7)).collect()}
        assert a == b


class TestSimilarity:
    def test_brute_force_matches_duckdb(self, spark, sf001_dir, con):
        from cms_topn_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf001_dir, "embeddings.parquet"))
        qids = list(range(10))
        compare(
            similarity.brute_force_topk(emb, qids, k=5),
            con,
            similarity.brute_force_topk_sql(qids, k=5),
        )

    def test_lsh_topk_nondegenerate_recall_on_planted_clusters(self, spark):
        """The DEFAULT lsh_topk config (16 planes × 16 tables, h=2) is a
        genuinely sublinear plan: probes ≤0.3 % of bucket keys per table,
        measured candidate volume a small fraction of Q×n, and recall ≥0.95
        on planted clusters (the regime ANN exists for)."""
        import numpy as np
        from pyspark.sql import functions as F

        from cms_topn_spark.operators import similarity

        rng = np.random.default_rng(42)
        C, M, D = 20, 25, 32
        centers = rng.normal(size=(C, D))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        pts = np.repeat(centers, M, axis=0) + 0.05 * rng.normal(size=(C * M, D))
        rows = [(i, [float(x) for x in pts[i]]) for i in range(C * M)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qids = [c * M for c in range(C)]
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(emb, qids, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.lsh_topk(emb, qids, k=5).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.95
        # probe neighborhood is a sub-percent slice of the key space
        masks = similarity.probe_masks(similarity.TOPK_N_PLANES, 2)
        assert len(masks) / (1 << similarity.TOPK_N_PLANES) <= 0.003
        # measured candidate fraction: sublinear, not corpus-scan-by-join
        sigs = similarity.lsh_signatures(emb, n_planes=similarity.TOPK_N_PLANES)
        qs = sigs.where(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), "tbl", "bucket"
        )
        qs = qs.select(
            "query_id",
            "tbl",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
        cand = (
            qs.join(sigs, ["tbl", "bucket"])
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
            .distinct()
            .count()
        )
        assert cand / (len(qids) * C * M) <= 0.15

    def test_full_probe_lsh_equals_brute_force(self, spark, sf001_dir):
        """The full-probe exactness regime (n_planes=8, probe_hamming=8
        enumerates every bucket ⇒ candidates = corpus by construction) equals
        brute force — the driver query's oracle argument."""
        from cms_topn_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf001_dir, "embeddings.parquet"))
        qids = list(range(10))
        exact = sorted(tuple(r) for r in similarity.brute_force_topk(emb, qids, k=5).collect())
        approx = sorted(
            tuple(r)
            for r in similarity.lsh_topk(
                emb, qids, k=5, probe_hamming=8, n_planes=8
            ).collect()
        )
        assert approx == exact

    def test_full_probe_candidate_paths_agree(self, spark):
        """_lsh_candidates_full_probe is the algebraic short-circuit of the
        generic bucket join at probe_hamming >= n_planes: identical
        candidate SET on a random corpus, including a query id absent from
        the corpus (which must contribute nothing on both paths) — the
        equivalence the round-8 full-probe rewrite rests on."""
        import numpy as np

        from cms_topn_spark.operators import similarity

        rng = np.random.default_rng(7)
        rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(120)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sigs = similarity.lsh_signatures(
            emb, n_planes=4, n_tables=3
        ).localCheckpoint(eager=True)
        qids = [0, 17, 55, 999]  # 999 absent from the corpus
        joined = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity._lsh_candidates_join(sigs, qids, 4, 4).collect()
        }
        direct = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity._lsh_candidates_full_probe(sigs, qids).collect()
        }
        assert direct == joined
        assert len(joined) == 3 * 119  # 3 present queries × (120 − self)

    def test_full_probe_guard_covers_lsh_topk_and_lsh_query(self, spark, tmp_path):
        """Full probe above 12 planes raises in both search entry points
        instead of silently scoring every query against the whole corpus."""
        from cms_topn_spark.operators import similarity

        rows = [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(12)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="full-probe"):
            similarity.lsh_topk(emb, [0, 1], n_planes=16, probe_hamming=16)
        index = similarity.lsh_build(emb, str(tmp_path / "idx"), n_planes=16, n_tables=2)
        with pytest.raises(ValueError, match="full-probe"):
            similarity.lsh_query(index, emb, [0, 1], probe_hamming=17)

    def test_cosine_blocked_matches_oracle(self, spark, sf001_dir, con):
        """Block-GEMM exact pairs (the demonstrated, collect-free shape)
        equal the DuckDB all-pairs oracle at a low threshold (where no LSH
        regime exists), at the default block count and at 3 blocks, and for
        a 32-bit ``vec_id`` (cast to the declared ``long`` before the
        cogroup)."""
        from cms_topn_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf001_dir, "embeddings.parquet"))
        emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
        for df, n_blocks in ((emb, None), (emb, 3), (emb_int, None)):
            compare(
                similarity.cosine_near_dup_pairs_blocked(df, 0.4, n_blocks=n_blocks),
                con,
                similarity.cosine_near_dup_pairs_sql(0.4),
            )

    def test_cosine_lsh_near_dup_pairs_planted(self, spark, sf001_dir):
        """Bucketed near-dup pairs: planted exact duplicates (cosine 1.0 ⇒
        identical signatures ⇒ deterministically co-bucketed) are all found,
        no false positives vs the exact block-GEMM pairs."""
        from pyspark.sql import functions as F

        from cms_topn_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf001_dir, "embeddings.parquet"))
        dups = emb.where(F.col("vec_id") < 10).withColumn(
            "vec_id", F.col("vec_id") + F.lit(1_000_000)
        )
        planted = emb.unionByName(dups)
        got = {
            (r["a_id"], r["b_id"])
            for r in similarity.cosine_near_dup_pairs_lsh(planted, 0.95).collect()
        }
        exact = {
            (r["a_id"], r["b_id"])
            for r in similarity.cosine_near_dup_pairs_blocked(planted, 0.95).collect()
        }
        assert {(i, i + 1_000_000) for i in range(10)} <= got
        assert got <= exact  # verification step ⇒ no false positives
        assert got == exact  # identical vectors: recall is deterministic

    def test_cosine_lsh_candidate_fraction_guardrail(self, spark, sf001_dir):
        """max_candidate_fraction is the bucket-storm circuit breaker: a
        constant-embedding corpus hashes every vector into ONE bucket per
        table, so the candidate self-join IS all-pairs and the operator must
        refuse loudly rather than degrade to O(n²). A healthy corpus under
        the same bound passes untouched."""
        import pytest
        from pyspark.sql import functions as F

        from cms_topn_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf001_dir, "embeddings.parquet"))
        degenerate = emb.limit(50).withColumn(
            "embedding", F.array(*[F.lit(1.0) for _ in range(8)])
        )
        with pytest.raises(ValueError, match="bucketed-regime bound"):
            similarity.cosine_near_dup_pairs_lsh(
                degenerate, 0.95, max_candidate_fraction=0.5
            )
        # healthy corpus, same bound: measured candidate fraction ~7 %
        out = similarity.cosine_near_dup_pairs_lsh(
            emb, 0.95, max_candidate_fraction=0.5
        )
        assert out.count() == 0  # no natural pairs above 0.95 at sf0.001


@pytest.mark.parametrize(
    "module, op, table, threshold",
    [
        ("dedup", "minhash_lsh_pairs", "documents", 0.8),
        ("similarity", "cosine_near_dup_pairs_lsh", "embeddings", 0.9),
        ("similarity", "cosine_near_dup_pairs_blocked", "embeddings", 0.4),
    ],
)
def test_pair_operator_releases_its_caches(spark, sf001_dir, module, op, table, threshold):
    """A pair operator returns its eagerly checkpointed pair set and drops
    every cache it made on the way: the persisted-RDD count grows by at
    most the output's one entry."""
    import importlib

    fn = getattr(importlib.import_module(f"cms_topn_spark.operators.{module}"), op)
    df = spark.read.parquet(os.path.join(sf001_dir, f"{table}.parquet"))
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = fn(df, threshold)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 1
    out.count()  # the returned pair set stays readable


class TestCuratePipeline:
    def test_curate_matches_oracle_and_composition(self, docs, con):
        """The composed pipeline equals its SQL oracle AND equals manually
        chaining the standalone operators (same gates, same dedup rule)."""
        from cms_topn_spark.operators import dedup, pipeline, textops

        compare(pipeline.curate(docs), con, pipeline.curate_sql())
        got = {
            (r["doc_id"], r["pred_lang"], r["n_tokens"], r["copies"])
            for r in pipeline.curate(docs).collect()
        }
        # manual chain: features from standalone operators, joined by doc_id
        q = {r["doc_id"]: r["alpha_ratio_fx"] for r in textops.quality_score(docs).collect()}
        rep = {r["doc_id"]: r["dup_token_fx"] for r in textops.repetition_stats(docs).collect()}
        lang = {r["doc_id"]: r["pred_lang"] for r in textops.lang_id(docs).collect()}
        keep_ids = {
            d
            for d in q
            if q[d] >= pipeline.MIN_ALPHA_FX
            and rep[d] <= pipeline.MAX_DUP_TOKEN_FX
            and lang[d] in pipeline.LANGS
        }
        kept_docs = docs.where(docs.doc_id.isin(list(keep_ids)))
        manual = {
            (r["doc_id"], lang[r["doc_id"]])
            for r in dedup.exact_dedup(kept_docs).collect()
        }
        assert {(d, l) for d, l, _, _ in got} == manual
        assert got, "gates should not eliminate the whole corpus"

    def test_curate_empty_text_gated_both_engines(self, spark):
        """An empty document must be deterministically gated OUT (scored 0),
        not silently NULL-dropped in Spark while crashing / NaN-ing the
        DuckDB oracle — the two engines must agree row-for-row."""
        import duckdb as _duckdb
        import pandas as pd

        from cms_topn_spark.operators import pipeline

        rows = [
            (1, ""),
            (2, "the wonderful adventure continued throughout the beautiful afternoon"),
            (3, "the wonderful adventure continued throughout the beautiful afternoon"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = pipeline.curate(df).collect()
        assert {r["doc_id"] for r in got} == {2}
        assert got[0]["copies"] == 2
        c = _duckdb.connect()
        c.register("edge_docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
        res = c.execute(pipeline.curate_sql("edge_docs"))
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert rowset([f.lower() for f in pipeline.curate(df).columns],
                      [tuple(r) for r in got]) == rowset(ocols, orows)


    def test_hash_sample_deterministic_and_engine_exact(self, docs, con):
        """One stratum at one fraction is plain deterministic sampling."""
        from cms_topn_spark.operators import pipeline

        corpus = docs.withColumn("stratum", F.lit("all"))

        def sample(frame, salt=0):
            out = pipeline.stratified_sample(frame, {"all": 0.3}, "stratum", salt=salt)
            return {r["doc_id"] for r in out.collect()}

        a = sample(corpus)
        assert sample(corpus.repartition(7)) == a  # partitioning-invariant, no RNG state
        # rate lands near the target (60-bit uniform hash)
        assert 0.2 <= len(a) / docs.count() <= 0.4
        # different salt = different (but still deterministic) sample
        assert sample(corpus, salt=1) != a
        # the DECISION matches DuckDB row-for-row
        sql = pipeline.stratified_sample_sql(
            "(SELECT *, 'all' AS stratum FROM documents)", {"all": 0.3}, "stratum"
        )
        want = {r[0] for r in con.execute(f"SELECT doc_id FROM ({sql})").fetchall()}
        assert want == a

    def test_stratified_sample_rates_and_missing_strata(self, spark):
        from cms_topn_spark.operators import pipeline

        rows = [(i, "en" if i % 4 else "rare") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, stratum string")
        got = pipeline.stratified_sample(
            df, {"en": 0.5, "rare": 1.0}, "stratum"
        ).collect()
        by = {}
        for r in got:
            by.setdefault(r["stratum"], set()).add(r["doc_id"])
        assert len(by["rare"]) == 500  # fraction 1.0 keeps every rare row
        assert 0.4 <= len(by["en"]) / 1500 <= 0.6
        # strata without a configured fraction are dropped
        got2 = pipeline.stratified_sample(df, {"rare": 1.0}, "stratum").collect()
        assert {r["stratum"] for r in got2} == {"rare"}
        with pytest.raises(ValueError, match="at least one stratum"):
            pipeline.stratified_sample(df, {}, "stratum")

    def test_probe_masks_full_probe_guard(self):
        from cms_topn_spark.operators import similarity

        # full-probe is only allowed at small n_planes (the oracle regime)
        assert len(similarity.probe_masks(8, 8)) == 256
        with pytest.raises(ValueError, match="full-probe"):
            similarity.probe_masks(16, 16)


class TestSessionize:
    def test_gap_boundaries_and_oracle(self, spark):
        """Hand-checkable gaps: exactly-at-threshold stays in-session (rule
        is strictly greater), 1µs over splits; parity vs the SQL oracle."""
        import datetime as dt

        import duckdb

        from cms_topn_spark.operators.sessions import sessionize, sessionize_sql

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
        gap = dt.timedelta(minutes=30)
        rows = [
            (1, t0, 7),
            (2, t0 + gap, 7),                                 # == gap: same session
            (3, t0 + gap + gap + dt.timedelta(microseconds=1), 7),  # > gap: new
            (4, t0, 8),                                       # other user
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, user_id long")
        got = {
            (r["user_id"], r["session_id"]): (r["n_events"], r["duration_us"])
            for r in sessionize(df).collect()
        }
        assert got == {
            (7, 1): (2, 30 * 60 * 1_000_000),
            (7, 2): (1, 0),
            (8, 1): (1, 0),
        }
        c = duckdb.connect()
        c.execute("CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)")
        c.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
        oracle = {
            (r[0], r[1]): (r[2], r[3])
            for r in c.execute(sessionize_sql("ev")).fetchall()
        }
        assert got == oracle


class TestLangIdNgram:
    def test_lang_id_ngram(self, docs, con):
        from cms_topn_spark.operators import textops

        compare(textops.lang_id_ngram(docs), con, textops.lang_id_ngram_sql())


class TestContamination:
    def test_quoted_eval_item_flags_via_containment_not_jaccard(self, spark):
        """An eval question quoted inside a much larger train page must flag
        (containment 1.0) even though the pair's symmetric Jaccard is tiny."""
        from cms_topn_spark.operators import dedup

        eval_text = "what is the capital of france"
        train_text = ("lorem ipsum dolor sit amet " * 20) + eval_text + (
            " consectetur adipiscing elit " * 20
        )
        train = spark.createDataFrame([(1, train_text), (2, "unrelated page text")],
                                      "doc_id long, text string")
        ev = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
        got = dedup.contamination_report(train, ev, threshold_ppm=900_000).collect()
        assert len(got) == 1
        r = got[0]
        assert r["eval_id"] == 100 and r["n_train_matches"] == 1
        assert r["max_containment_ppm"] == 1_000_000  # full containment
        # the same pair is invisible to symmetric Jaccard at any real threshold
        both = train.unionByName(ev)
        jac = dedup.jaccard_pairs_exact(both, threshold=0.5).collect()
        assert (1, 100) not in {(p["a_id"], p["b_id"]) for p in jac}

    def test_pruned_containment_well_defined(self, spark):
        """max_df pruning removes boilerplate grams from BOTH intersection
        and denominator — an eval doc made of ubiquitous grams only cannot
        divide by zero or flag spuriously."""
        from cms_topn_spark.operators import dedup

        boiler = "the the the the the the the the"
        train = spark.createDataFrame(
            [(i, f"{boiler} unique{i} content") for i in range(5)],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([(100, boiler)], "doc_id long, text string")
        out = dedup.contamination_report(train, ev, threshold_ppm=500_000, max_df=3).collect()
        assert out == []  # all of eval's grams pruned ⇒ no sz row ⇒ no flag


class TestChunking:
    def test_chunk_boundaries_and_overlap(self, spark):
        from cms_topn_spark.operators import textops

        rows = [
            (1, ""),                      # empty: split -> [''] -> one chunk
            (2, "a"),                     # single token
            (3, "a b c d"),               # exactly chunk size
            (4, "a b c d e"),             # one full + one partial window
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk"])
            for r in textops.chunk_documents(df, chunk_tokens=4, stride=2).collect()
        }
        assert got[(1, 0)] == (1, "")
        assert got[(2, 0)] == (1, "a")
        assert got[(3, 0)] == (4, "a b c d") and got[(3, 1)] == (2, "c d")
        assert got[(4, 0)] == (4, "a b c d")
        assert got[(4, 1)] == (3, "c d e")
        assert got[(4, 2)] == (1, "e")
        # oracle parity on the same edge corpus
        import duckdb

        c = duckdb.connect()
        c.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        c.executemany("INSERT INTO d VALUES (?, ?)", rows)
        oracle = {
            (r[0], r[1]): (r[2], r[3])
            for r in c.execute(textops.chunk_documents_sql("d", 4, 2)).fetchall()
        }
        assert got == oracle

    def test_chunk_plan_has_no_exchange(self, spark, sf001_dir):
        import os

        from cms_topn_spark.operators import textops

        docs = spark.read.parquet(os.path.join(sf001_dir, "documents.parquet"))
        plan = (
            textops.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


def test_corpus_profile_one_scan_matches_exact(spark, docs, con):
    """The composite one-scan profile equals independently computed exact
    statistics (gate regimes: sparse HLL, collision-free CMS, exact KLL)."""
    from cms_topn_spark.plans.profile import corpus_profile

    p = corpus_profile(docs)
    want = con.execute("""
        WITH tok AS (SELECT unnest(string_split(text,' ')) AS t FROM documents),
        tc AS (SELECT t, count(*) c FROM tok GROUP BY t)
        SELECT (SELECT count(DISTINCT text) FROM documents),
               (SELECT count(*) FROM tok),
               (SELECT max(c) FROM tc),
               (SELECT quantile_cont(len(string_split(text,' '))::DOUBLE, 0.5) FROM documents)
    """).fetchone()
    assert p["distinct_texts"] == want[0]
    assert p["total_tokens"] == want[1]
    assert p["top_token_freq"] == want[2]
    assert p["len_q50"] == want[3]


def test_corpus_profile_empty_and_null_corpus(spark):
    from cms_topn_spark.plans.profile import corpus_profile

    empty = spark.createDataFrame([], "text string")
    p = corpus_profile(empty)
    assert p["distinct_texts"] == 0 and p["top_token"] is None
    nulls = spark.createDataFrame([(None,), (None,)], "text string")
    p2 = corpus_profile(nulls)
    assert p2["total_tokens"] == 0 and p2["len_q50"] is None


class TestFingerprintContamination:
    def test_matches_duckdb_oracle(self, spark, sf001_dir):
        import duckdb

        from cms_topn_spark.operators.dedup import (
            fingerprint_contamination,
            fingerprint_contamination_sql,
        )

        docs = spark.read.parquet(os.path.join(sf001_dir, "documents.parquet"))
        train = docs.where(F.col("doc_id") % 10 != 0)
        ev = docs.where(F.col("doc_id") % 10 == 0)
        got = sorted(
            tuple(r) for r in fingerprint_contamination(train, ev, window=4).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf001_dir}/documents.parquet'"
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                fingerprint_contamination_sql(
                    "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0",
                    "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0",
                    window=4,
                )
            ).fetchall()
        )
        assert got == want and len(got) > 0

    def test_window1_equals_exact_gram_containment(self, spark):
        """window=1 selects every gram-position hash, so fingerprint
        containment must EQUAL exact distinct-gram containment — the exact
        regime the docstring claims."""
        from cms_topn_spark.operators.dedup import (
            SHINGLE_K,
            fingerprint_contamination,
        )

        rows_t = [(1, "the quick brown fox jumps over the lazy dog today"),
                  (2, "machine learning at scale with sketches and joins")]
        rows_e = [(10, "the quick brown fox jumps over the lazy dog today"),  # full dup
                  (11, "completely unrelated eval question text here now")]
        train = spark.createDataFrame(rows_t, "doc_id long, text string")
        ev = spark.createDataFrame(rows_e, "doc_id long, text string")
        got = {
            r["eval_id"]: r["containment_ppm"]
            for r in fingerprint_contamination(train, ev, window=1).collect()
        }
        # exact distinct-gram containment computed directly in python
        def grams(t):
            n = max(len(t) - SHINGLE_K + 1, 1)
            padded = t.encode().ljust(n + SHINGLE_K - 1, b"\0")
            return {padded[i:i + SHINGLE_K] for i in range(n)}

        tset = set().union(*(grams(t) for _, t in rows_t))
        for eid, t in rows_e:
            eg = grams(t)
            want = (1_000_000 * len(eg & tset)) // len(eg)
            assert got[eid] == want
        assert got[10] == 1_000_000  # the planted full duplicate flags

    def test_contamination_report_eval_size_guard(self, spark):
        import pytest as _pytest

        from cms_topn_spark.operators.dedup import contamination_report

        docs = spark.createDataFrame(
            [(i, f"document number {i} with some shared text") for i in range(12)],
            "doc_id long, text string",
        )
        with _pytest.raises(ValueError, match="fingerprint_contamination"):
            contamination_report(
                docs.where(F.col("doc_id") % 2 == 0),
                docs.where(F.col("doc_id") % 2 == 1),
                max_eval_grams=10,
            ).collect()
        # and the default bound leaves benchmark-sized evals untouched
        out = contamination_report(
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )
        assert out.count() >= 0


class TestPackDocuments:
    def _docs(self, spark, texts, id_type="long"):
        rows = [(i, t) for i, t in enumerate(texts)]
        return spark.createDataFrame(rows, f"doc_id {id_type}, text string")

    def test_greedy_boundaries_exact_fit_and_oversize(self, spark):
        from cms_topn_spark.operators.pipeline import pack_documents

        # one bucket: token counts 3, 3, 2, 9, 1 with cap 6:
        # [3,3] fills pack 0 exactly; 2 opens pack 1; oversize 9 sits alone
        # in pack 2; 1 opens pack 3 (acc after oversize already > cap)
        texts = ["a b c", "d e f", "g h", " ".join("x" * 1 for _ in range(9)), "z"]
        out = {
            r["doc_id"]: (r["pack_id"], r["n_tokens"])
            for r in pack_documents(
                self._docs(spark, texts), max_tokens=6, n_buckets=1
            ).collect()
        }
        assert out == {0: (0, 3), 1: (0, 3), 2: (1, 2), 3: (2, 9), 4: (3, 1)}

    def test_matches_duckdb_recursive_oracle(self, spark):
        import duckdb
        import numpy as np

        from cms_topn_spark.operators.pipeline import pack_documents, pack_documents_sql

        rng = np.random.default_rng(5)
        texts = [" ".join(["t"] * int(n)) for n in rng.integers(1, 40, 200)]
        # a 32-bit id packs like a 64-bit one: it is cast to the declared
        # ``long`` before the grouped UDF
        for id_type in ("long", "int"):
            df = self._docs(spark, texts, id_type)
            got = sorted(
                tuple(r) for r in pack_documents(df, max_tokens=64, n_buckets=4).collect()
            )
            con = duckdb.connect()
            con.register("documents", df.toPandas())
            exp = sorted(
                tuple(r)
                for r in con.execute(pack_documents_sql(64, 4)).fetchall()
            )
            assert got == exp

    def test_partitioning_invariance(self, spark):
        import numpy as np

        from cms_topn_spark.operators.pipeline import pack_documents

        rng = np.random.default_rng(9)
        texts = [" ".join(["t"] * int(n)) for n in rng.integers(1, 40, 150)]
        df = self._docs(spark, texts)
        a = sorted(tuple(r) for r in pack_documents(df, 64, 4).collect())
        b = sorted(
            tuple(r) for r in pack_documents(df.repartition(7), 64, 4).collect()
        )
        assert a == b

    def test_validation(self, spark):
        import pytest as _pytest

        from cms_topn_spark.operators.pipeline import pack_documents

        df = self._docs(spark, ["a"])
        with _pytest.raises(ValueError, match="max_tokens"):
            pack_documents(df, 0, 4)
        with _pytest.raises(ValueError, match="n_buckets"):
            pack_documents(df, 64, 0)

    def test_null_id_or_text_rows_excluded(self, spark):
        """NULL ids have no bucket/order and NULL texts no token count —
        both are filtered before the greedy fold (round-6 ADVICE: Spark's
        legacy size(split(NULL)) = -1 vs DuckDB NULL silently diverged)."""
        import duckdb

        from cms_topn_spark.operators.pipeline import pack_documents, pack_documents_sql

        rows = [(0, "a b"), (1, None), (None, "c d"), (2, "e f g"), (3, "h")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in pack_documents(df, 4, 2).collect())
        assert {r[0] for r in got} == {0, 2, 3}
        assert all(r[3] >= 1 for r in got)  # no -1 sentinel token counts
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            "(0, 'a b'), (1, NULL), (NULL, 'c d'), (2, 'e f g'), (3, 'h')"
            ") t(doc_id, text)"
        )
        exp = sorted(tuple(r) for r in con.execute(pack_documents_sql(4, 2)).fetchall())
        assert got == exp

    def test_negative_ids_agree_with_oracle(self, spark):
        import duckdb

        from cms_topn_spark.operators.pipeline import pack_documents, pack_documents_sql

        rows = [(i, " ".join(["t"] * (3 + (i % 5)))) for i in range(-10, 10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in pack_documents(df, 8, 4).collect())
        con = duckdb.connect()
        con.register("documents", df.toPandas())
        exp = sorted(tuple(r) for r in con.execute(pack_documents_sql(8, 4)).fetchall())
        assert got == exp
