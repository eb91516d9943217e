"""Two-level grouped sketch build vs exact group-by (scale form of GROUP BY
sketch aggregation)."""

import os

import numpy as np
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from cms_topn_spark.core import CmsTopn, sketch_from_bytes
from cms_topn_spark.operators.grouped import grouped_sketch_states, grouped_topn


def test_grouped_states_match_exact_counts(spark, sf001_dir):
    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    states = grouped_sketch_states(
        events, "event_type", "user_id", lambda: CmsTopn(10, 0.0001, 0.99, update="linear")
    ).collect()
    exact = {
        (r["event_type"], r["user_id"]): r["c"]
        for r in events.groupBy("event_type", "user_id").agg(F.count("*").alias("c")).collect()
    }
    assert {r["event_type"] for r in states} == {k for k, _ in exact}
    for r in states:
        sk = sketch_from_bytes(bytes(r["state"]))
        for (et, uid), c in exact.items():
            if et == r["event_type"] and uid < 20:
                assert sk.estimate(int(uid)) == c


@pytest.mark.parametrize("update", ["linear", "conservative"])
def test_grouped_equals_per_group_filter_build(spark, sf001_dir, update):
    """Linear update runs the whole-window kernel and conservative update
    the per-group loop; both merge level-wise in stage 2. Both must match
    the per-group aggregate."""
    from cms_topn_spark.functions.sketch_api import cms_topn_add_agg

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    states = {
        r["event_type"]: sketch_from_bytes(bytes(r["state"]))
        for r in grouped_sketch_states(
            events, "event_type", "user_id", lambda: CmsTopn(5, update=update)
        ).collect()
    }
    for et in list(states)[:2]:
        direct = cms_topn_add_agg(
            events.where(F.col("event_type") == et), "user_id", n=5, update=update
        )
        assert states[et].update_mode == direct.update_mode
        assert np.array_equal(states[et].counters, direct.counters)
        assert dict(states[et].topn_list()) == dict(direct.topn_list())


def test_grouped_module_imports_no_pandas():
    """Both grouped stages are ``mapInArrow``: no pandas import, at module
    level or inside a function."""
    import ast

    from cms_topn_spark.operators import grouped as grouped_mod

    tree = ast.parse(open(grouped_mod.__file__).read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            imported.add(node.module.split(".")[0])
    assert "pandas" not in imported
    assert "mapInPandas" not in open(grouped_mod.__file__).read()


def test_grouped_probe_matches_exact(spark, sf001_dir):
    """Exact at collision-free width, for a ``long`` and an ``int`` item
    column (the item column is built with the declared type)."""
    from cms_topn_spark.operators.grouped import grouped_probe

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    states = grouped_sketch_states(
        events, "event_type", "user_id", lambda: CmsTopn(10, 0.0001, 0.99, update="linear")
    )
    exact = {
        (r["event_type"], r["user_id"]): r["c"]
        for r in events.where(F.col("user_id") < 10)
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    for item_type in ("long", "int"):
        got = {
            (r["event_type"], r["user_id"]): r["frequency"]
            for r in grouped_probe(
                states, "event_type", list(range(10)), item_col="user_id", item_type=item_type
            ).collect()
        }
        for k, c in exact.items():
            assert got[k] == c
        # probed-but-absent pairs estimate 0 at collision-free width
        for k, f in got.items():
            assert f == exact.get(k, 0)


def test_grouped_topn_shape(spark, sf001_dir):
    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    out = grouped_topn(events, "event_type", "user_id", n=3, e=0.0001).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["event_type"], []).append(r["frequency"])
    for g, freqs in by_group.items():
        assert len(freqs) == 3
        assert freqs == sorted(freqs, reverse=True)


def test_grouped_topn_items_keep_bound_type(spark, sf001_dir):
    """int64 value column ⇒ long item column whose values equal the typed
    driver-level topn() per group (the r2 topn_explode fix, applied here)."""
    from pyspark.sql.types import LongType

    from cms_topn_spark.functions.sketch_api import cms_topn_add_agg

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    out = grouped_topn(events, "event_type", "user_id", n=3, e=0.0001)
    assert isinstance(out.schema["item"].dataType, LongType)
    rows = out.collect()
    assert all(isinstance(r["item"], int) for r in rows)
    by_group = {}
    for r in rows:
        by_group.setdefault(r["event_type"], []).append((r["item"], r["frequency"]))
    for et in list(by_group)[:2]:
        direct = cms_topn_add_agg(
            events.where(F.col("event_type") == et), "user_id", n=3
        )
        assert dict(by_group[et]) == dict(direct.topn_list())


def test_duplicate_clusters_nonconvergence_raises(spark):
    from cms_topn_spark.operators.dedup import duplicate_clusters

    # a chain 0-1-2-...-9 has diameter 9; min-label propagation cannot
    # finish in 2 rounds and must fail loudly, not return wrong labels
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a_id long, b_id long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iters=2)
    # and with enough rounds the same chain resolves to one component
    got = duplicate_clusters(pairs, max_iters=20).collect()
    assert {r["rep_id"] for r in got} == {0}
    assert {r["doc_id"] for r in got} == set(range(11))


def test_kmeans_fit_handles_empty_partitions(spark, sf001_dir):
    """mapInArrow can deliver empty record batches / empty partitions (e.g.
    a tight filter); the segmented reduceat kernel must skip them."""
    from cms_topn_spark.operators.ivf import kmeans_fit

    emb = (
        spark.read.parquet(os.path.join(sf001_dir, "embeddings.parquet"))
        .where(F.col("vec_id") < 6)
        .repartition(16)  # 6 rows over 16 partitions: most are empty
    )
    cents = kmeans_fit(emb, n_cells=2, iters=2)
    assert cents.shape[0] == 2


def test_grouped_quantiles_exact_regime_matches_duckdb(spark, sf001_dir):
    """Exact regime (per-group n << k): every per-group quantile equals
    quantile_cont BITWISE — same gate the driver query runs at sf0.01."""
    import duckdb

    from cms_topn_spark.operators.grouped import grouped_quantiles

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    got = {
        r["user_id"]: (r["q25"], r["q50"], r["q75"])
        for r in grouped_quantiles(events, "user_id", "value", k=4096).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf001_dir}/events.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            "SELECT user_id, quantile_cont(value,0.25), quantile_cont(value,0.5),"
            " quantile_cont(value,0.75) FROM events GROUP BY user_id"
        ).fetchall()
    }
    assert got == want  # bitwise float equality, not approx


def test_grouped_quantiles_compacting_regime_bounded_error(spark, sf001_dir):
    """k far below per-group n forces compaction: estimates must stay within
    the KLL rank-error envelope (checked via rank displacement)."""
    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    rows = grouped_quantiles_rows = {
        r["user_id"]: r["q50"]
        for r in __import__("cms_topn_spark.operators.grouped", fromlist=["grouped_quantiles"])
        .grouped_quantiles(events, "user_id", "value", k=16)
        .collect()
    }
    exact = {
        r["user_id"]: sorted(v["value"] for v in events.where(F.col("user_id") == r["user_id"]).select("value").collect())
        for r in events.select("user_id").distinct().limit(3).collect()
    }
    for uid, vals in exact.items():
        est = rows[uid]
        # rank of the estimate within the exact values: within 25% of median
        import bisect

        r = bisect.bisect_left(vals, est) / max(len(vals) - 1, 1)
        assert 0.25 <= r <= 0.75, (uid, est, r)


def test_grouped_distinct_sparse_exact_and_estimate_regime(spark, sf001_dir):
    """Sparse regime: per-group distinct counts equal COUNT(DISTINCT)
    exactly; with sparse conversion forced off the estimate stays within the
    HLL error envelope."""
    from cms_topn_spark.operators.grouped import grouped_distinct

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    got = {
        r["user_id"]: r["distinct_values"]
        for r in grouped_distinct(events, "user_id", "event_id").collect()
    }
    want = {
        r["user_id"]: r["d"]
        for r in events.groupBy("user_id")
        .agg(F.countDistinct("event_id").alias("d"))
        .collect()
    }
    assert got == want
    # dense regime (sparse_limit=0 forces registers): within ~3 sigma of 0.81%
    est = {
        r["user_id"]: r["distinct_values"]
        for r in grouped_distinct(events, "user_id", "event_id", sparse_limit=0).collect()
    }
    for uid, d in want.items():
        assert abs(est[uid] - d) <= max(3, 0.05 * d)


def test_duplicate_clusters_rejects_nonpositive_iters(spark):
    import pytest as _pytest

    from cms_topn_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    with _pytest.raises(ValueError, match="max_iters"):
        duplicate_clusters(pairs, max_iters=0)


def test_grouped_topn_double_and_binary_items_typed(spark):
    """Float and binary value columns keep their type through grouped_topn
    (no str() fallback), matching the driver-level typed topn per group —
    r4 verdict item: extend the item-type table coverage to every encodable
    item type."""
    from pyspark.sql.types import BinaryType, DoubleType

    from cms_topn_spark.functions.sketch_api import cms_topn_add_agg

    rows = [
        ("a", float(v), bytes([v]))
        for v in [1, 1, 1, 2, 2, 3]
    ] + [("b", float(v), bytes([v])) for v in [7, 7, 8]]
    df = spark.createDataFrame(rows, "g string, dv double, bv binary")

    out_d = grouped_topn(df, "g", "dv", n=2, e=0.0001)
    assert isinstance(out_d.schema["item"].dataType, DoubleType)
    got_d = {}
    for r in out_d.collect():
        got_d.setdefault(r["g"], {})[r["item"]] = r["frequency"]
    for g in ("a", "b"):
        direct = cms_topn_add_agg(df.where(F.col("g") == g), "dv", n=2)
        assert got_d[g] == dict(direct.topn_list())
        assert all(isinstance(i, float) for i in got_d[g])

    out_b = grouped_topn(df, "g", "bv", n=2, e=0.0001)
    assert isinstance(out_b.schema["item"].dataType, BinaryType)
    got_b = {}
    for r in out_b.collect():
        got_b.setdefault(r["g"], {})[bytes(r["item"])] = r["frequency"]
    for g in ("a", "b"):
        direct = cms_topn_add_agg(df.where(F.col("g") == g), "bv", n=2)
        assert got_b[g] == {bytes(i): f for i, f in direct.topn_list()}


def test_grouped_topn_smallint_value_promotes_to_long(spark):
    from pyspark.sql.types import LongType

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2)], "g string, v int"
    ).select("g", F.col("v").cast("smallint").alias("v"))
    out = grouped_topn(df, "g", "v", n=2, e=0.0001)
    assert isinstance(out.schema["item"].dataType, LongType)
    got = {r["item"]: r["frequency"] for r in out.collect()}
    assert got == {1: 2, 2: 1}


def test_grouped_topn_unrepresentable_type_raises(spark):
    import pytest as _pytest

    df = spark.createDataFrame([("a", [1, 2])], "g string, v array<int>")
    with _pytest.raises(TypeError, match="no sketch item encoding"):
        grouped_topn(df, "g", "v", n=2)


def test_dice_byte_bound_flush_preserves_results(spark, sf001_dir, monkeypatch):
    """Forcing the byte cap to trip on every Arrow batch (wide-value
    protection path) folds one window per batch. The carried state follows
    the multi-window contract — a fresh state per window, then
    ``CmsTopn.merge`` in window order — and its counters and totals equal
    the single-window build's."""
    import functools

    import pyarrow.parquet as pq

    from cms_topn_spark.operators import grouped as grouped_mod
    from cms_topn_spark.operators.build import ingest_array

    path = os.path.join(sf001_dir, "events.parquet")
    events = spark.read.parquet(path)
    want = {
        (r["event_type"], r["user_id"]): r["c"]
        for r in events.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
        .collect()
        if r["user_id"] < 10
    }
    factory = lambda: CmsTopn(10, 0.0001, 0.99, update="linear")  # noqa: E731
    whole = {
        r["event_type"]: sketch_from_bytes(bytes(r["state"]))
        for r in grouped_sketch_states(events, "event_type", "user_id", factory).collect()
    }
    monkeypatch.setattr(grouped_mod, "_DICE_MAX_BYTES", 1)

    # the contract, on the kernel itself: one window per batch
    batches = pq.read_table(path, columns=["event_type", "user_id"]).to_batches(max_chunksize=300)
    assert len(batches) > 1
    fresh: dict = {}
    for rb in batches:
        for et in set(rb.column(0).drop_null().to_pylist()):
            values = rb.filter(pc.equal(rb.column(0), et)).column(1)
            if values.null_count < len(values):
                sk = factory()
                ingest_array(sk, values)
                fresh.setdefault(et, []).append(sk)
    folded = {
        rb.column(0)[i].as_py(): rb.column(1)[i].as_py()
        for rb in grouped_mod._state_fold("event_type", "user_id", factory)(iter(batches))
        for i in range(rb.num_rows)
    }
    assert folded == {
        et: functools.reduce(CmsTopn.merge, sks).to_bytes() for et, sks in fresh.items()
    }

    windowed = grouped_sketch_states(events, "event_type", "user_id", factory).collect()
    assert {r["event_type"] for r in windowed} == set(whole)
    for r in windowed:
        sk = sketch_from_bytes(bytes(r["state"]))
        assert np.array_equal(sk.counters, whole[r["event_type"]].counters)
        assert sk.total == whole[r["event_type"]].total
        for (et, uid), c in want.items():
            if et == r["event_type"]:
                assert sk.estimate(int(uid)) == c


def test_plan_num_partitions_memo(spark):
    from cms_topn_spark.operators.build import _NPARTS_CACHE, plan_num_partitions

    df = spark.range(0, 100, 1, 7)
    assert plan_num_partitions(df) == 7
    assert (spark.sparkContext.applicationId, df.semanticHash()) in _NPARTS_CACHE


def test_grouped_quantiles_parquet_direct_matches_dataframe_form(spark, sf001_dir):
    """The columnar-direct ingest (no JVM row pivot) produces bitwise the
    same per-group quantiles as the DataFrame form, and drops NULL group
    keys / all-NULL value groups with the same semantics."""
    import tempfile

    from cms_topn_spark.operators.grouped import (
        grouped_quantiles,
        grouped_quantiles_parquet,
    )

    path = os.path.join(sf001_dir, "events.parquet")
    a = sorted(
        tuple(r)
        for r in grouped_quantiles(
            spark.read.parquet(path), "user_id", "value", k=4096
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in grouped_quantiles_parquet(spark, path, "user_id", "value", k=4096).collect()
    )
    assert a == b and len(a) > 0
    # a string group key through the direct source
    a = sorted(
        tuple(r)
        for r in grouped_quantiles(
            spark.read.parquet(path), "event_type", "value", k=4096
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in grouped_quantiles_parquet(
            spark, path, "event_type", "value", k=4096
        ).collect()
    )
    assert a == b and len(a) > 0

    tmp = tempfile.mkdtemp()
    for gtype, g1, g2 in (("int", 1, 2), ("string", "a", "b")):
        p2 = os.path.join(tmp, f"t_{gtype}.parquet")
        spark.createDataFrame(
            [(g1, 1.0), (None, 2.0), (g1, 3.0), (g2, None)], f"g {gtype}, v double"
        ).coalesce(1).write.mode("overwrite").parquet(p2)
        got = sorted(
            tuple(r)
            for r in grouped_quantiles_parquet(
                spark, p2, "g", "v", qs=(0.5,), q_names=("q50",)
            ).collect()
        )
        assert got == [(g1, 2.0)]


def test_parquet_direct_column_order_independent(spark, tmp_path):
    """The fold selects columns by NAME — a file whose schema stores the
    value column before the group column must still fold correctly."""
    from cms_topn_spark.operators.grouped import grouped_quantiles_parquet

    p = str(tmp_path / "rev.parquet")
    spark.createDataFrame(
        [(1.0, 7), (3.0, 7), (5.0, 8)], "v double, g int"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    got = sorted(
        tuple(r)
        for r in grouped_quantiles_parquet(
            spark, p, "g", "v", qs=(0.5,), q_names=("q50",)
        ).collect()
    )
    assert got == [(7, 2.0), (8, 5.0)]


def test_grouped_topn_partitioning_invariant_on_margined_items(spark, sf001_dir):
    """The driver gate's construction (exponential user-id magnitude
    buckets): wide per-group frequency margins make the retained top-3 set,
    order and counts invariant across partitionings — the property the
    q_grouped_topn docstring relies on."""
    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet")).select(
        "event_type",
        (F.length(F.expr("bin(user_id + 2)")) - 1).cast("int").alias("bucket"),
    )
    a = sorted(
        tuple(r) for r in grouped_topn(events, "event_type", "bucket", n=3, e=0.0001).collect()
    )
    b = sorted(
        tuple(r)
        for r in grouped_topn(
            events.repartition(13), "event_type", "bucket", n=3, e=0.0001
        ).collect()
    )
    assert a == b and len(a) > 0


def test_grouped_estimate_tdigest_matches_quantile_cont_bitwise(spark, sf001_dir):
    """The two-level grouped_estimate (per-task digests → states-only
    exchange → fused readout) must equal DuckDB quantile_cont BITWISE in the
    exact regime: with delta ≥ πN every centroid stays a singleton, so the
    merged digest holds the identical sorted value multiset whatever the
    partial split — the property q_tdigest_median_by_type's oracle relies
    on."""
    import duckdb

    from cms_topn_spark.core import TDigest
    from cms_topn_spark.operators.grouped import grouped_estimate

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    args = (
        "event_type",
        "value",
        lambda: TDigest(delta=1e7),
        lambda sk: sk.quantile(0.5),
        "median_value",
        "double",
    )
    two_level = {
        r["event_type"]: r["median_value"]
        for r in grouped_estimate(events, *args).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT event_type, quantile_cont(value, 0.5) "
            f"FROM '{sf001_dir}/events.parquet' GROUP BY event_type"
        ).fetchall()
    )
    assert two_level == want and len(two_level) > 0  # bitwise, not approx
    # and invariant under a different partitioning of the same rows
    repart = {
        r["event_type"]: r["median_value"]
        for r in grouped_estimate(events.repartition(13), *args).collect()
    }
    assert repart == two_level


def test_grouped_estimate_default_ingest_dispatches_on_protocol(spark, sf001_dir):
    """Stage 1 must feed both sketch protocols without the caller naming an
    ingest: numeric add_batch (t-digest, KLL — no add_packed, so a packed
    ingest would die executor-side with AttributeError) and packed
    add_packed (HLL)."""
    from cms_topn_spark.core import TDigest
    from cms_topn_spark.core.hll import HyperLogLog
    from cms_topn_spark.core.kll import KllSketch
    from cms_topn_spark.operators.grouped import grouped_estimate

    events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
    med = {
        r["event_type"]: r["median_value"]
        for r in grouped_estimate(
            events, "event_type", "value",
            lambda: TDigest(delta=1e7), lambda sk: sk.quantile(0.5),
            "median_value", "double",
        ).collect()
    }
    assert len(med) > 0 and all(v is not None for v in med.values())
    got = {
        r["event_type"]: r["d"]
        for r in grouped_estimate(
            events, "event_type", "user_id",
            lambda: HyperLogLog(p=14, sparse_limit=1 << 22),
            lambda sk: int(sk.estimate()), "d", "long",
        ).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert got == exact
    # the states API dispatches too: one merged KLL per group over every row
    kll = {
        r["event_type"]: sketch_from_bytes(bytes(r["state"]))
        for r in grouped_sketch_states(
            events, "event_type", "value", lambda: KllSketch(200)
        ).collect()
    }
    counts = {
        r["event_type"]: r["c"]
        for r in events.groupBy("event_type").agg(F.count("value").alias("c")).collect()
    }
    assert {g: sk.n for g, sk in kll.items()} == counts
