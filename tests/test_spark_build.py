"""Distributed build/merge over real Spark — the add_agg/union_agg rebuild.

Each test checks the distributed result against an exact DataFrame aggregate
computed by Spark itself (the §5.2(3) oracle pattern: collision-free widths ⇒
sketch estimates equal exact counts)."""

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cms_topn_spark.core import CmsTopn, fold_states, sketch_from_bytes
from cms_topn_spark.core import encoding as enc
from cms_topn_spark.functions.sketch_api import (
    bloom_add_agg,
    bloom_contains_udf,
    cms_topn_add_agg,
    cms_topn_union_agg,
    frequency_udf,
    hll_add_agg,
    kll_add_agg,
    mms_add_agg,
    tdigest_add_agg,
    topn,
)
from cms_topn_spark.operators.build import (
    _PA_STATE_SCHEMA,
    _fold_collect,
    _fold_task,
    build_partials,
)


@pytest.fixture(scope="module")
def events(spark, sf001_dir):
    return spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))


@pytest.fixture(scope="module")
def lineitem(spark, sf001_dir):
    return spark.read.parquet(os.path.join(sf001_dir, "lineitem.parquet"))


class TestCmsTopnAgg:
    def test_event_type_heavy_hitters(self, spark, events):
        sk = cms_topn_add_agg(events, "event_type", n=5, salt_partitions=8)
        exact = {
            r["event_type"]: r["c"]
            for r in events.groupBy("event_type").agg(F.count("*").alias("c")).collect()
        }
        got = dict(sk.topn_list())
        expected_top = dict(sorted(exact.items(), key=lambda kv: -kv[1])[:5])
        assert got == expected_top

    def test_user_id_frequencies(self, spark, events):
        sk = cms_topn_add_agg(events, "user_id", n=10, e=0.0001)
        exact = {
            r["user_id"]: r["c"]
            for r in events.groupBy("user_id").agg(F.count("*").alias("c")).limit(50).collect()
        }
        for uid, c in exact.items():
            assert sk.estimate(int(uid)) == c

    def test_frequency_udf_probe(self, spark, events):
        sk = cms_topn_add_agg(events, "event_type", n=5)
        probe = frequency_udf(sk.to_bytes())
        got = (
            events.select("event_type")
            .distinct()
            .withColumn("freq", probe(F.col("event_type")))
            .collect()
        )
        exact = {
            r["event_type"]: r["c"]
            for r in events.groupBy("event_type").agg(F.count("*").alias("c")).collect()
        }
        for r in got:
            assert r["freq"] == exact[r["event_type"]]

    def test_topn_dataframe(self, spark, events):
        sk = cms_topn_add_agg(events, "event_type", n=3)
        df = topn(spark, sk)
        rows = df.collect()
        assert len(rows) == 3
        freqs = [r["frequency"] for r in rows]
        assert freqs == sorted(freqs, reverse=True)

    def test_salted_build_equals_unsalted(self, spark, events):
        a = cms_topn_add_agg(events, "event_type", n=5, salt_partitions=3)
        b = cms_topn_add_agg(events, "event_type", n=5, salt_partitions=11)
        # linear update: counters independent of partitioning
        assert np.array_equal(a.counters, b.counters)
        assert dict(a.topn_list()) == dict(b.topn_list())

    def test_union_agg_of_state_column(self, spark, events):
        states = build_partials(events.select("event_type"), lambda: CmsTopn(5, update="linear"))
        merged = cms_topn_union_agg(states, "state")
        whole = cms_topn_add_agg(events, "event_type", n=5)
        assert dict(merged.topn_list()) == dict(whole.topn_list())

    def test_all_null_column(self, spark):
        df = spark.range(10).select(F.lit(None).cast("string").alias("v"))
        sk = cms_topn_add_agg(df, "v", n=3)
        assert sk is None or sk.topn_list() == []


class TestCompanionAggs:
    def test_hll_distinct_exact(self, spark, lineitem):
        h = hll_add_agg(lineitem, "l_partkey", p=14, sparse_limit=1 << 20)
        exact = lineitem.select(F.countDistinct("l_partkey")).collect()[0][0]
        assert h.estimate() == exact

    def test_kll_quantiles_exact(self, spark, lineitem):
        k = kll_add_agg(lineitem, "l_extendedprice", k=1 << 20)
        # a decimal column feeds the numeric sketch as float64 values too
        dec = kll_add_agg(
            lineitem.select(F.col("l_extendedprice").cast("decimal(15,2)").alias("p")),
            "p", k=1 << 20,
        )
        vals = np.array([r[0] for r in lineitem.select("l_extendedprice").collect()])
        v = np.sort(vals)
        for q in (0.25, 0.5, 0.75):
            t = q * (len(v) - 1)
            i = int(np.floor(t))
            expect = v[i] + (v[min(i + 1, len(v) - 1)] - v[i]) * (t - i)
            assert k.quantile(q) == pytest.approx(expect, abs=1e-9)
            assert dec.quantile(q) == k.quantile(q)

    def test_tdigest_median(self, spark, events):
        n = events.count()
        t = tdigest_add_agg(events, "value", delta=4 * n)
        vals = np.sort(np.array([r[0] for r in events.select("value").collect()]))
        tt = 0.5 * (len(vals) - 1)
        i = int(np.floor(tt))
        expect = vals[i] + (vals[min(i + 1, len(vals) - 1)] - vals[i]) * (tt - i)
        assert t.quantile(0.5) == pytest.approx(expect, abs=1e-9)

    def test_bloom_semijoin(self, spark, sf001_dir):
        orders = spark.read.parquet(os.path.join(sf001_dir, "orders.parquet"))
        customer = spark.read.parquet(os.path.join(sf001_dir, "customer.parquet"))
        bf = bloom_add_agg(orders, "o_custkey", capacity=orders.count(), fpp=1e-9)
        probe = bloom_contains_udf(bf.to_bytes())
        got = customer.where(probe(F.col("c_custkey"))).count()
        exact = customer.join(
            orders.select("o_custkey").distinct(),
            customer.c_custkey == F.col("o_custkey"),
            "left_semi",
        ).count()
        assert got == exact

    def test_mms_agg(self, spark, events):
        df = events.select(
            "user_id",
            F.when(F.col("event_type") == "click", F.lit(1))
            .when(F.col("event_type") == "view", F.lit(2))
            .when(F.col("event_type") == "purchase", F.lit(4))
            .when(F.col("event_type") == "signup", F.lit(8))
            .otherwise(F.lit(16))
            .alias("mask"),
        )
        mms = mms_add_agg(df, "user_id", "mask", e=0.00001)
        exact = {
            r["user_id"]: r["m"]
            for r in df.groupBy("user_id").agg(F.expr("bit_or(mask)").alias("m")).limit(20).collect()
        }
        # collision-free width ⇒ OR-merge of partials is a superset of truth
        for uid, m in exact.items():
            assert mms.get_mask(int(uid)) & m == m


class TestProbeTyping:
    """A column probes by the rule a Python value does (``ItemSketch._probe``):
    each item is encoded with the sketch's BOUND type, since an int32 column
    probing an int64 sketch (or a double column probing an int sketch) would
    otherwise hash a different key, silently returning 0 (and false
    negatives from Bloom); a value the bound type cannot hold exactly reads
    as never added, and a cross-family column fails the job."""

    def test_frequency_udf_nullable_int_column(self, spark):
        df = spark.createDataFrame([(7,)] * 100 + [(9,)] * 3, "v long")
        sk = cms_topn_add_agg(df, "v", n=5, e=0.0001)
        assert sk.estimate(7) == 100
        probe = frequency_udf(sk.to_bytes())
        probe_df = spark.createDataFrame(
            [(1, 7), (2, 9), (3, None)], "id int, v int"  # int32 + a NULL
        )
        got = {r["id"]: r["freq"] for r in probe_df.withColumn("freq", probe(F.col("v"))).collect()}
        assert got == {1: 100, 2: 3, 3: None}

    def test_bloom_udf_nullable_int_no_false_negatives(self, spark):
        df = spark.range(0, 50).select(F.col("id").alias("v"))
        bf = bloom_add_agg(df, "v", capacity=100, fpp=1e-6)
        probe = bloom_contains_udf(bf.to_bytes())
        probe_df = spark.createDataFrame(
            [(i, i if i % 3 else None) for i in range(30)], "id int, v int"
        )
        got = {r["id"]: r["hit"] for r in probe_df.withColumn("hit", probe(F.col("v"))).collect()}
        for i in range(30):
            if i % 3 == 0:
                assert got[i] is False  # NULL probes → not contained
            else:
                assert got[i] is True  # no false negatives, ever

    def test_incompatible_probe_type_raises(self, spark):
        df = spark.createDataFrame([("a",), ("b",)], "v string")
        sk = cms_topn_add_agg(df, "v", n=5)
        probe = frequency_udf(sk.to_bytes())
        ints = spark.createDataFrame([(1,), (2,)], "v long")
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        with pytest.raises(
            (PythonException, Py4JJavaError), match="not a proper cms_topn for the result type"
        ):
            ints.withColumn("f", probe(F.col("v"))).collect()
        # a double column against an int-bound sketch: an integral value
        # probes as its int, a fractional one was never added
        isk = cms_topn_add_agg(spark.createDataFrame([(7,)] * 3, "v long"), "v", n=5)
        iprobe = frequency_udf(isk.to_bytes())
        whole = spark.createDataFrame([(7.0,)], "v double")
        assert whole.withColumn("f", iprobe(F.col("v"))).collect()[0]["f"] == isk.estimate(7)
        frac = spark.createDataFrame([(7.5,)], "v double")
        assert frac.withColumn("f", iprobe(F.col("v"))).collect()[0]["f"] == 0

    def test_wide_bigint_reads_zero_against_int32_sketch(self, spark):
        sk = CmsTopn(5)
        sk.add_batch([7, 7])  # binds int32
        probe_df = spark.createDataFrame([(1, 7), (2, 2**40), (3, None)], "id int, v long")
        probe = frequency_udf(sk.to_bytes())
        got = {r["id"]: r["f"] for r in probe_df.select("id", probe("v").alias("f")).collect()}
        assert got == {1: 2, 2: 0, 3: None}

    def test_rare_token_probe_against_int_sketch_raises(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        from cms_topn_spark.functions.sketch_api import rare_token_probe_udf

        sk = CmsTopn(5)
        sk.add_batch([1, 2])  # bound to ints: no token was ever added
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        probe = rare_token_probe_udf(sk.to_bytes(), threshold=10)
        with pytest.raises(
            (PythonException, Py4JJavaError), match="not a proper cms_topn for the result type"
        ):
            docs.select(probe("text")).collect()

    def test_mask_udf_keeps_all_ones_bits(self, spark):
        from cms_topn_spark.core import MinMaskSketch
        from cms_topn_spark.functions.sketch_api import mask_udf

        mms = MinMaskSketch(0.001)
        mms.add_batch([5], [2**64 - 1])  # the all-ones mask
        assert mms.get_mask(5) == 2**64 - 1  # unsigned on the driver
        df = spark.createDataFrame([(5,), (None,)], "v long")
        got = df.select(mask_udf(mms.to_bytes())("v").alias("m")).collect()
        assert [r["m"] for r in got] == [-1, None]

    def test_probe_above_2_53_with_nulls_is_exact(self, spark):
        """A NULL-bearing bigint column reaches the probe as typed int64 with
        a validity bitmap, so a value above 2^53 probes exactly."""
        big = (1 << 60) + 1
        df = spark.createDataFrame([(big,), (big,)], "v long")
        sk = cms_topn_add_agg(df, "v", n=3)
        probe = frequency_udf(sk.to_bytes())
        probe_df = spark.createDataFrame(
            [(1, big), (2, None)], "id int, v long"
        ).coalesce(1)  # the big value and the NULL share one Arrow batch
        got = {r["id"]: r["f"] for r in probe_df.withColumn("f", probe(F.col("v"))).collect()}
        assert got == {1: 2, 2: None}

    def test_mask_udf_matches_driver_get_mask(self, spark, events):
        from cms_topn_spark.functions.sketch_api import mask_udf

        df = events.where(F.col("user_id") < 20).select(
            "user_id",
            F.when(F.col("event_type") == "click", F.lit(1))
            .when(F.col("event_type") == "view", F.lit(2))
            .otherwise(F.lit(4))
            .alias("mask"),
        )
        mms = mms_add_agg(df, "user_id", "mask", e=0.00001)
        probe = mask_udf(mms.to_bytes())
        got = (
            df.select("user_id")
            .distinct()
            .withColumn("m", probe(F.col("user_id")))
            .collect()
        )
        assert len(got) > 0
        for r in got:
            assert r["m"] == mms.get_mask(int(r["user_id"]))


class TestBloomSemiJoin:
    def test_matches_exact_semijoin(self, spark, sf001_dir):
        from cms_topn_spark.functions.sketch_api import bloom_semi_join
        from cms_topn_spark.sources.parquet_meta import parquet_row_count

        opath = os.path.join(sf001_dir, "orders.parquet")
        orders = spark.read.parquet(opath)
        customer = spark.read.parquet(os.path.join(sf001_dir, "customer.parquet"))
        cap = parquet_row_count(opath)
        assert cap == orders.count()  # footer metadata == full scan, no scan
        got = bloom_semi_join(customer, "c_custkey", orders, "o_custkey", capacity=cap).count()
        exact = customer.join(
            orders.select("o_custkey").distinct(),
            customer.c_custkey == F.col("o_custkey"),
            "left_semi",
        ).count()
        assert got == exact

    def test_empty_build_side(self, spark, sf001_dir):
        from cms_topn_spark.functions.sketch_api import bloom_semi_join

        customer = spark.read.parquet(os.path.join(sf001_dir, "customer.parquet"))
        empty = customer.where(F.lit(False)).select(F.col("c_custkey").alias("k"))
        assert bloom_semi_join(customer, "c_custkey", empty, "k", capacity=10).count() == 0


class TestTreeMerge:
    def test_tree_levels(self, spark, events):
        """``_fold_collect`` folds 32 states in at most P tasks, one fold each,
        with ``input_rows`` summed; an empty frame folds to None."""
        states = build_partials(
            events.select("event_type"), lambda: CmsTopn(5, update="linear"), salt_partitions=32
        )
        p = spark.sparkContext.defaultParallelism
        persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

        def count_tasks(batches):
            # one state per task: item 0 counts the task, item 1 its input rows
            rows = sum(sum(rb.column("input_rows").to_pylist()) for rb in batches)
            sk = CmsTopn(2, update="linear")
            sk.add_batch([0, 1], [1, rows], type_tag=enc.TYPE_INT64)
            yield pa.RecordBatch.from_pydict(
                {"partition_id": [0], "state": [sk.to_bytes()], "input_rows": [rows],
                 "build_wall_ms": [0]},
                schema=_PA_STATE_SCHEMA,
            )

        counted = _fold_collect(states, count_tasks)
        assert 1 <= counted.estimate(0) <= p
        assert counted.estimate(1) == events.count()
        # 5 event types under n=5: a stable candidate set, so any merge
        # order gives the same bytes
        raw = fold_states(r["state"] for r in states.collect())
        assert _fold_collect(states, _fold_task).to_bytes() == raw.to_bytes()
        # the task fold itself emits one row, input_rows summed
        (out,) = _fold_task(iter(states.toArrow().to_batches()))
        assert out.num_rows == 1
        assert out.column("input_rows").to_pylist() == [events.count()]
        assert _fold_collect(states.where(F.lit(False)), _fold_task) is None
        assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == persisted

    def test_above_direct_collect_limit(self, spark, events):
        """The one fold is layout-independent: any salt gives the unsalted
        counters and top-n."""
        whole = cms_topn_add_agg(events, "event_type", n=5)
        for salt in (1, 3, 4, 8, 100):
            salted = cms_topn_add_agg(events, "event_type", n=5, salt_partitions=salt)
            assert np.array_equal(salted.counters, whole.counters), salt
            assert salted.topn_list() == whole.topn_list(), salt


class TestWeightedAdds:
    def test_weighted_equals_raw(self, spark, events):
        from pyspark.sql import functions as F

        pre = events.groupBy("event_type").agg(F.count("*").alias("cnt"))
        weighted = cms_topn_add_agg(pre, "event_type", n=5, count_col="cnt")
        raw = cms_topn_add_agg(events, "event_type", n=5)
        assert np.array_equal(weighted.counters, raw.counters)
        assert dict(weighted.topn_list()) == dict(raw.topn_list())


class TestSketchColumnForms:
    def test_cms_topn_add_udf_rowwise(self, spark):
        # the reference's scalar cms_topn_add over a sketch column
        from cms_topn_spark.functions.sketch_api import cms_topn_add_udf, topn_explode

        base = CmsTopn(2).to_bytes()
        df = spark.createDataFrame(
            [(1, base, "alpha"), (2, base, "beta"), (3, None, "gamma"), (4, base, None)],
            "id int, state binary, item string",
        )
        add = cms_topn_add_udf()
        out = df.withColumn("state2", add(F.col("state"), F.col("item"))).collect()
        by_id = {r["id"]: r["state2"] for r in out}
        assert by_id[3] is None  # NULL sketch → NULL
        assert bytes(by_id[4]) == base  # NULL item → unchanged
        assert sketch_from_bytes(bytes(by_id[1])).topn_list() == [("alpha", 1)]
        # a NULL-bearing int item column keeps its int items (no float64 NaN)
        ints = spark.createDataFrame([(1, base, 7), (2, base, None)], "id int, state binary, item long")
        by_id = {r["id"]: r["s"] for r in ints.select("id", add("state", "item").alias("s")).collect()}
        assert sketch_from_bytes(bytes(by_id[1])).topn_list() == [(7, 1)]
        assert bytes(by_id[2]) == base

    def test_topn_explode_over_sketch_table(self, spark, events):
        # copy.source scenario: table of sketches → concatenated topn groups
        from cms_topn_spark.functions.sketch_api import topn_explode

        states = build_partials(
            events.select("event_type").repartition(3), lambda: CmsTopn(2, update="linear")
        )
        rows = topn_explode(states.select("partition_id", "state")).collect()
        assert len(rows) == 3 * 2  # 3 sketches × top-2 each
        groups = {}
        for r in rows:
            groups.setdefault(r["partition_id"], []).append(r["frequency"])
        for freqs in groups.values():
            assert freqs == sorted(freqs, reverse=True)

    def test_topn_explode_is_typed(self, spark, events):
        """An int64 sketch table explodes to a LONG item column whose rows
        equal the typed driver-level topn() — no stringified items."""
        from cms_topn_spark.functions.sketch_api import topn, topn_explode

        states = build_partials(
            events.select("user_id").coalesce(1), lambda: CmsTopn(5, update="linear")
        )
        exploded = topn_explode(states.select("state"))
        assert dict(exploded.dtypes)["item"] == "bigint"
        sk = sketch_from_bytes(bytes(states.collect()[0]["state"]))
        driver_level = [(r["item"], r["frequency"]) for r in topn(spark, sk).collect()]
        got = [(r["item"], r["frequency"]) for r in exploded.collect()]
        assert got == driver_level
        assert all(isinstance(i, int) for i, _ in got)


    def test_topn_explode_mixed_bound_tags_raise(self, spark):
        """A state column holding an int32-bound and an int64-bound sketch
        fails rather than exploding either under the other's type."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        from cms_topn_spark.functions.sketch_api import topn_explode

        narrow, wide = CmsTopn(2), CmsTopn(2)
        narrow.add_batch([5])
        wide.add_batch([2**40])
        assert (narrow.item_type, wide.item_type) == (enc.TYPE_INT32, enc.TYPE_INT64)
        df = spark.createDataFrame([(narrow.to_bytes(),), (wide.to_bytes(),)], "state binary")
        with pytest.raises(
            (PythonException, Py4JJavaError), match="not a proper cms_topn for the result type"
        ):
            topn_explode(df).collect()


def test_rare_token_probe_udf_matches_explode_groupby(spark, sf001_dir):
    """The shuffle-free per-doc rare-token map equals the explode→probe→
    groupBy formulation row-for-row (collision-negligible width)."""
    import os

    from pyspark.sql import functions as F

    from cms_topn_spark.functions.sketch_api import (
        cms_topn_add_agg,
        frequency_udf,
        rare_token_probe_udf,
    )

    docs = spark.read.parquet(os.path.join(sf001_dir, "documents.parquet"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    sk = cms_topn_add_agg(toks, "tok", n=5, e=0.00002)
    probe = rare_token_probe_udf(sk.to_bytes(), threshold=10)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_rare_tokens"])
        for r in docs.select("doc_id", probe("text").alias("s")).collect()
        for r in [r.asDict() | dict(r["s"].asDict())]
    }
    old = frequency_udf(sk.to_bytes())
    want = {
        r["doc_id"]: (r["n"], r["r"])
        for r in toks.withColumn("f", old("tok"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n"), F.sum((F.col("f") < 10).cast("long")).alias("r"))
        .collect()
    }
    assert got == want
    # plan shape: the map form has NO exchange
    explained = docs.select("doc_id", probe("text"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in explained


def test_bloom_anti_join_matches_exact_and_handles_empty_build(spark, sf001_dir):
    """Anti-join keeps exactly the keys NOT in the build side (fpp makes a
    false drop negligible), and an empty old corpus passes everything."""
    import os

    from pyspark.sql import functions as F

    from cms_topn_spark.functions.sketch_api import bloom_anti_join

    docs = spark.read.parquet(os.path.join(sf001_dir, "documents.parquet"))
    old = docs.where(F.col("doc_id") % 3 != 0).select(F.md5("text").alias("k"))
    new = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", F.md5("text").alias("k"))
    got = {r["doc_id"] for r in bloom_anti_join(new, "k", old, "k", capacity=600, fpp=1e-9).collect()}
    want = {r["doc_id"] for r in new.join(old, "k", "left_anti").collect()}
    assert got == want and got  # nonempty and exact
    empty = old.where(F.lit(False))
    all_new = {r["doc_id"] for r in bloom_anti_join(new, "k", empty, "k", capacity=600).collect()}
    assert all_new == {r["doc_id"] for r in new.collect()}


def test_rare_token_probe_null_text_yields_null_struct(spark):
    from pyspark.sql import functions as F

    from cms_topn_spark.functions.sketch_api import (
        cms_topn_add_agg,
        rare_token_probe_udf,
    )

    df = spark.createDataFrame([(1, "a b c"), (2, None)], "doc_id long, text string")
    sk = cms_topn_add_agg(df.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")), "tok", n=5)
    probe = rare_token_probe_udf(sk.to_bytes(), threshold=10)
    rows = {r["doc_id"]: r["s"] for r in df.select("doc_id", probe("text").alias("s")).collect()}
    assert rows[1]["n_tokens"] == 3
    assert rows[2]["n_tokens"] is None and rows[2]["n_rare_tokens"] is None


def test_rare_token_probe_regex_delimiter_matches_spark_split(spark):
    """The probe splits with regex semantics like Spark's F.split: a regex
    delimiter ("[ ,]") and a regex METACHARACTER delimiter (".") must both
    agree with the explode formulation (r4 advice: pandas' literal split
    diverged for such delimiters)."""
    from pyspark.sql import functions as F

    from cms_topn_spark.functions.sketch_api import (
        cms_topn_add_agg,
        rare_token_probe_udf,
    )

    df = spark.createDataFrame(
        [(1, "a b,c a"), (2, "x.y.x"), (3, "a,b c")],
        "doc_id long, text string",
    )
    for delim in ("[ ,]", "."):
        toks = df.select("doc_id", F.explode(F.split("text", delim)).alias("tok"))
        sk = cms_topn_add_agg(toks, "tok", n=5, e=0.00002)
        probe = rare_token_probe_udf(sk.to_bytes(), threshold=2, delimiter=delim)
        got = {
            r["doc_id"]: (r["s"]["n_tokens"], r["s"]["n_rare_tokens"])
            for r in df.select("doc_id", probe("text").alias("s")).collect()
        }
        freq = {
            r["tok"]: r["c"]
            for r in toks.groupBy("tok").agg(F.count("*").alias("c")).collect()
        }
        want = {}
        for r in toks.collect():
            n, nr = want.get(r["doc_id"], (0, 0))
            want[r["doc_id"]] = (n + 1, nr + (1 if freq[r["tok"]] < 2 else 0))
        assert got == want


def test_sketch_agg_parquet_matches_dataframe_form(spark, sf001_dir):
    """The columnar-direct global build (one partial per file, no JVM row
    pivot) merges to byte-identical sketches vs the DataFrame form, for both
    a CMS build and the composite corpus profile."""
    import os

    from cms_topn_spark.core import CmsTopn
    from cms_topn_spark.operators.build import sketch_agg, sketch_agg_parquet
    from cms_topn_spark.plans.profile import corpus_profile, corpus_profile_parquet

    import numpy as np

    path = os.path.join(sf001_dir, "events.parquet")
    a = sketch_agg(
        spark.read.parquet(path).select("event_type"),
        lambda: CmsTopn(5, 0.0001, 0.99, update="linear"),
    )
    b = sketch_agg_parquet(
        spark, path, ["event_type"],
        lambda: CmsTopn(5, 0.0001, 0.99, update="linear"),
    )
    # canonical readout, NOT raw bytes: the serialized frame carries
    # insertion-order seq tie-breakers that legitimately differ when the
    # two paths split a multi-file input into different task orders
    assert np.array_equal(a.counters, b.counters)
    assert dict(a.topn_list()) == dict(b.topn_list())
    assert a.total == b.total

    dpath = os.path.join(sf001_dir, "documents.parquet")
    pa_ = corpus_profile(spark.read.parquet(dpath))
    pb = corpus_profile_parquet(spark, dpath)
    assert pa_ == pb


def test_parquet_direct_ten_files_match_dataframe_form(spark, sf01_dir, tmp_path):
    """Over 10 files at 4 cores each direct-source task folds a run of
    several files; the results still equal the DataFrame forms."""
    import pyarrow.parquet as pq

    from cms_topn_spark.operators.grouped import grouped_quantiles, grouped_quantiles_parquet
    from cms_topn_spark.plans.profile import corpus_profile, corpus_profile_parquet

    assert spark.sparkContext.defaultParallelism < 10
    dirs = {}
    for name in ("events", "documents"):
        tbl = pq.read_table(os.path.join(sf01_dir, f"{name}.parquet"))
        d = dirs[name] = str(tmp_path / name)
        os.makedirs(d)
        step = -(-tbl.num_rows // 10)
        for i in range(10):
            pq.write_table(tbl.slice(i * step, step), os.path.join(d, f"part-{i:02d}.parquet"))

    events = spark.read.parquet(dirs["events"])
    for group in ("user_id", "event_type"):
        a = sorted(tuple(r) for r in grouped_quantiles(events, group, "value", k=4096).collect())
        b = sorted(
            tuple(r)
            for r in grouped_quantiles_parquet(
                spark, dirs["events"], group, "value", k=4096
            ).collect()
        )
        assert a == b and len(a) > 0
    assert corpus_profile(spark.read.parquet(dirs["documents"])) == corpus_profile_parquet(
        spark, dirs["documents"]
    )


def test_parquet_direct_row_group_splits(spark, tmp_path):
    """split_row_groups hands out one task per (file, row-group) — the
    giant-file remedy — and produces the same merged sketch as whole-file
    reads (canonical readout)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cms_topn_spark.core import CmsTopn
    from cms_topn_spark.operators.build import sketch_agg_parquet
    from cms_topn_spark.sources.parquet_direct import parquet_splits

    # one "giant" file with 5 row groups of 1000 rows each
    p = str(tmp_path / "big.parquet")
    tbl = pa.table({"k": pa.array([f"item{i % 7}" for i in range(5000)])})
    pq.write_table(tbl, p, row_group_size=1000)
    assert len(parquet_splits(p)) == 1
    assert len(parquet_splits(p, split_row_groups=True)) == 5
    # empty file: row-group splitting must still yield >=1 task (a 0-row
    # write may produce 0 OR 1 row groups depending on the writer) so the
    # empty input returns the empty-sketch result instead of crashing
    # parallelize([], 0)
    p0 = str(tmp_path / "empty.parquet")
    pq.write_table(tbl.slice(0, 0), p0)
    sp0 = parquet_splits(p0, split_row_groups=True)
    assert len(sp0) >= 1
    assert sketch_agg_parquet(
        spark, p0, ["k"], lambda: CmsTopn(5, update="linear"),
        split_row_groups=True,
    ).topn_list() == []

    a = sketch_agg_parquet(
        spark, p, ["k"], lambda: CmsTopn(5, 0.0001, 0.99, update="linear")
    )
    b = sketch_agg_parquet(
        spark, p, ["k"], lambda: CmsTopn(5, 0.0001, 0.99, update="linear"),
        split_row_groups=True,
    )
    assert np.array_equal(a.counters, b.counters)
    assert dict(a.topn_list()) == dict(b.topn_list())
    assert a.total == b.total == 5000


class TestParquetDirectPushdown:
    """The direct source's two-layer predicate pushdown: driver-side
    statistics pruning of the split list (the manifest analogue) and the
    task-side columnar residual mask. Correctness never depends on pruning —
    the residual mask alone is sufficient — so every test also asserts the
    VALUES, not just the split counts."""

    @staticmethod
    def _sorted_file(tmp_path, name="sorted.parquet", n=5000, rg=1000):
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = str(tmp_path / name)
        tbl = pa.table(
            {
                "ts": pa.array(range(n), pa.int64()),  # sorted → tight stats
                "v": pa.array([float(i % 100) for i in range(n)]),
                "tag": pa.array([f"t{i % 3}" for i in range(n)]),
            }
        )
        pq.write_table(tbl, p, row_group_size=rg)
        return p

    def test_stats_prune_splits_and_values(self, spark, tmp_path):
        from cms_topn_spark.core.kll import KllSketch
        from cms_topn_spark.operators.build import default_ingest, sketch_agg_parquet
        from cms_topn_spark.sources.parquet_direct import parquet_splits

        p = self._sorted_file(tmp_path)
        flt = [("ts", ">=", 3000)]
        # 5 row groups of 1000 sorted rows; ts>=3000 proves groups 0-2 empty
        assert len(parquet_splits(p, split_row_groups=True)) == 5
        assert len(parquet_splits(p, split_row_groups=True, filters=flt)) == 2
        sk = sketch_agg_parquet(
            spark, p, ["v"], lambda: KllSketch(8192),
            ingest=default_ingest, filters=flt, split_row_groups=True,
        )
        assert sk.n == 2000  # exactly the rows with ts in [3000, 5000)

    def test_residual_mask_on_unpruned_groups(self, spark, tmp_path):
        """A filter the stats can't prune (tag cycles through every row
        group) still filters exactly, and the filter-only column never
        reaches the fold's schema."""
        from cms_topn_spark.core import CmsTopn
        from cms_topn_spark.operators.build import sketch_agg_parquet
        from cms_topn_spark.sources.parquet_direct import parquet_splits

        p = self._sorted_file(tmp_path)
        flt = [("tag", "==", "t1")]
        assert len(parquet_splits(p, split_row_groups=True, filters=flt)) == 5
        sk = sketch_agg_parquet(
            spark, p, ["tag"], lambda: CmsTopn(5, 0.0001, 0.99, update="linear"),
            filters=flt,
        )
        assert dict(sk.topn_list()) == {"t1": 1667}  # residue 1 of 5000 rows
        sk2 = sketch_agg_parquet(
            spark, p, ["tag"], lambda: CmsTopn(5, 0.0001, 0.99, update="linear"),
            filters=[("ts", "<", 1500), ("tag", "in", ("t0", "t2"))],
        )
        # conjunction: rows 0..1499 with tag in {t0,t2} = 1500 - |t1 rows|
        assert sum(dict(sk2.topn_list()).values()) == 1000

    def test_null_semantics_sql_where(self, spark, tmp_path):
        """NULLs never pass a conjunct — including != — matching SQL WHERE."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cms_topn_spark.core import CmsTopn
        from cms_topn_spark.operators.build import sketch_agg_parquet

        p = str(tmp_path / "nulls.parquet")
        pq.write_table(
            pa.table({"k": ["a", "b", None, "a", None], "x": [1, 2, 3, 4, 5]}), p
        )
        sk = sketch_agg_parquet(
            spark, p, ["x"], lambda: CmsTopn(5, update="linear"),
            filters=[("k", "!=", "b")],
        )
        assert sk.total == 2  # rows x=1 and x=4; NULL k rows dropped

    def test_all_pruned_falls_back_to_empty_result(self, spark, tmp_path):
        from cms_topn_spark.core import CmsTopn
        from cms_topn_spark.operators.build import sketch_agg_parquet
        from cms_topn_spark.sources.parquet_direct import parquet_splits

        p = self._sorted_file(tmp_path)
        flt = [("ts", ">", 10_000_000)]
        assert parquet_splits(p, split_row_groups=True, filters=flt) == [(p, -1)]
        sk = sketch_agg_parquet(
            spark, p, ["tag"], lambda: CmsTopn(5, update="linear"), filters=flt
        )
        assert sk is None or sk.topn_list() == []

    def test_grouped_quantiles_filtered_matches_dataframe_filter(
        self, spark, sf001_dir
    ):
        from pyspark.sql import functions as F

        from cms_topn_spark.operators.grouped import (
            grouped_quantiles,
            grouped_quantiles_parquet,
        )

        path = os.path.join(sf001_dir, "events.parquet")
        a = sorted(
            tuple(r)
            for r in grouped_quantiles(
                spark.read.parquet(path).where(F.col("event_type") == "click"),
                "user_id", "value", k=4096,
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in grouped_quantiles_parquet(
                spark, path, "user_id", "value", k=4096,
                filters=[("event_type", "==", "click")],
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_bad_filter_rejected(self, tmp_path):
        import pytest

        from cms_topn_spark.sources.parquet_direct import parquet_splits

        p = self._sorted_file(tmp_path)
        with pytest.raises(ValueError, match="bad filter conjunct"):
            parquet_splits(p, filters=[("ts", "~", 3)])
        # a bare string would iterate per-character (silently empty result)
        with pytest.raises(ValueError, match="non-string iterable"):
            parquet_splits(p, filters=[("tag", "in", "t1")])
        # None inside 'in' would pass NULL rows through pc.is_in
        with pytest.raises(ValueError, match="None inside 'in'"):
            parquet_splits(p, filters=[("tag", "in", ("t1", None))])
