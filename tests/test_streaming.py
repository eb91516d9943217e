"""Structured Streaming sketch aggregation: incremental build, restart/resume,
replay idempotency, and the keyed stateful operator."""

import os

import pytest
from pyspark.sql import functions as F

from cms_topn_spark.core import CmsTopn
from cms_topn_spark.functions.sketch_api import cms_topn_add_agg
from cms_topn_spark.sources.webpages import generate_webpages
from cms_topn_spark.streaming.stream_agg import (
    _read_committed,
    keyed_sketch_stream,
    read_stream_state,
    sketch_stream_agg,
)


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return str(src), str(tmp_path / "state"), str(tmp_path / "ckpt")


def _write_slice(spark, src, lo, hi, name):
    df = generate_webpages(spark, hi, partitions=2).where(F.col("url").isNotNull())
    # deterministic slice by path suffix id range
    df = df.withColumn("idx", F.regexp_extract("url", r"/path/(\d+)$", 1).cast("long"))
    df.where((F.col("idx") >= lo) & (F.col("idx") < hi)).select("url").write.mode(
        "overwrite"
    ).parquet(os.path.join(src, name))


class TestGlobalStreamAgg:
    def test_incremental_equals_batch_and_resumes(self, spark, stream_dirs):
        src, state_dir, ckpt = stream_dirs
        full = generate_webpages(spark, 2000, partitions=4).select("url")
        _write_slice(spark, src, 0, 1000, "part1")

        stream = (
            spark.readStream.schema("url string")
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(src, "*"))
        )
        q = sketch_stream_agg(
            stream, lambda: CmsTopn(10, 0.0001, 0.99, update="linear"), state_dir, ckpt
        )
        q.awaitTermination(120)
        sk1 = read_stream_state(state_dir)
        assert sk1 is not None and sk1.total == 1000
        first_commit = _read_committed(state_dir)

        # append more data, restart the query from the same checkpoint
        _write_slice(spark, src, 1000, 2000, "part2")
        q2 = sketch_stream_agg(
            stream, lambda: CmsTopn(10, 0.0001, 0.99, update="linear"), state_dir, ckpt
        )
        q2.awaitTermination(120)
        sk2 = read_stream_state(state_dir)
        assert sk2.total == 2000
        assert _read_committed(state_dir) > first_commit

        batch = cms_topn_add_agg(full, "url", n=10, e=0.0001)
        assert sk2.topn_list() == batch.topn_list()
        import numpy as np

        assert np.array_equal(sk2.counters, batch.counters)

    def test_restart_without_new_data_is_noop(self, spark, stream_dirs):
        src, state_dir, ckpt = stream_dirs
        _write_slice(spark, src, 0, 500, "part1")
        stream = (
            spark.readStream.schema("url string").parquet(os.path.join(src, "*"))
        )
        factory = lambda: CmsTopn(5, update="linear")
        sketch_stream_agg(stream, factory, state_dir, ckpt).awaitTermination(120)
        s1 = read_stream_state(state_dir).to_bytes()
        sketch_stream_agg(stream, factory, state_dir, ckpt).awaitTermination(120)
        assert read_stream_state(state_dir).to_bytes() == s1


class TestKeyedStream:
    def test_keyed_topn_matches_exact(self, spark, tmp_path, sf001_dir):
        src = str(tmp_path / "ev")
        events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
        events.select("event_type", "user_id").write.parquet(src)
        stream = spark.readStream.schema("event_type string, user_id long").parquet(src)
        out = keyed_sketch_stream(stream, "event_type", "user_id", n=3, eps=0.0001)
        q = (
            out.writeStream.format("memory")
            .queryName("keyed_topn")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["key"]: (r["top_item"], r["top_freq"]) for r in spark.sql(
            "SELECT * FROM keyed_topn"
        ).collect()}
        exact = {
            r["event_type"]: (str(r["top_user"]), r["c"])
            for r in spark.sql(
                """
                SELECT event_type, user_id AS top_user, c FROM (
                  SELECT event_type, user_id, count(*) AS c,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY count(*) DESC, user_id) AS rk
                  FROM {ev} GROUP BY event_type, user_id
                ) WHERE rk = 1
                """,
                ev=events,
            ).collect()
        }
        assert set(got) == set(exact)
        for k, (item, freq) in exact.items():
            # CMS top-1 at collision-free width: frequency matches exact count;
            # the item matches unless several users tie at the max (tie order
            # between sketch insertion and SQL row_number can differ)
            assert got[k][1] == freq


    def test_keyed_quantiles_multibatch_matches_quantile_cont(self, spark, tmp_path, sf001_dir):
        """keyed_quantile_stream: per-key KLL state folded across MULTIPLE
        micro-batches (4 files, maxFilesPerTrigger=1); the final emission per
        key (max n) must equal per-key quantile_cont BITWISE in the exact
        regime, and n must equal the non-null count."""
        from cms_topn_spark.streaming.stream_agg import keyed_quantile_stream

        src = str(tmp_path / "ev")
        events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
        events.select("event_type", "value").repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = keyed_quantile_stream(stream, "event_type", "value", k=1 << 16)
        q = (
            out.writeStream.format("memory")
            .queryName("keyed_quant")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckq"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        sink = spark.sql("SELECT * FROM keyed_quant").collect()
        # multiple update emissions per key proves the multi-batch fold ran
        assert len(sink) > len({r["key"] for r in sink})
        got = {
            r["key"]: (r["n"], r["q25"], r["q50"], r["q75"])
            for r in spark.sql(
                "SELECT key, max(n) AS n, max_by(q25, n) AS q25, "
                "max_by(q50, n) AS q50, max_by(q75, n) AS q75 "
                "FROM keyed_quant GROUP BY key"
            ).collect()
        }
        exact = {
            r["event_type"]: (r["n"], r["q25"], r["q50"], r["q75"])
            for r in spark.sql(
                """
                SELECT event_type, count(value) AS n,
                       percentile(value, 0.25) AS q25,
                       percentile(value, 0.5)  AS q50,
                       percentile(value, 0.75) AS q75
                FROM {ev} GROUP BY event_type
                """,
                ev=events,
            ).collect()
        }
        assert got == exact and len(got) > 0


class TestCommitAtomicity:
    """The batch id travels inside the state frame (one atomic rename), so a
    crash between 'state folded' and 'commit recorded' cannot exist; windowed
    states carry per-file batch ids so partial-crash replays skip per window."""

    def test_frame_roundtrip_and_corruption(self, tmp_path):
        from cms_topn_spark.core import SketchError
        from cms_topn_spark.streaming.stream_agg import _read_frame, _write_frame

        p = str(tmp_path / "state.bin")
        sk = CmsTopn(3, update="linear")
        sk.add_batch(["a", "b", "a"])
        _write_frame(p, 7, sk.to_bytes())
        bid, payload = _read_frame(p)
        assert bid == 7 and payload == sk.to_bytes()
        assert _read_frame(str(tmp_path / "missing.bin")) == (-1, None)
        with open(p, "wb") as f:
            f.write(b"XX")  # torn write shorter than the header
        with pytest.raises(SketchError):
            _read_frame(p)

    def test_windowed_replay_skips_folded_windows(self, tmp_path):
        from cms_topn_spark.streaming.stream_agg import (
            _fold_windows,
            read_window_states,
        )

        sdir = str(tmp_path)
        delta_a = CmsTopn(3, update="linear")
        delta_a.add_batch(["x"] * 5)
        delta_b = CmsTopn(3, update="linear")
        delta_b.add_batch(["y"] * 2)
        states = [(100, delta_a.to_bytes()), (200, delta_b.to_bytes())]
        # crash scenario: batch 1 folded window 100 but died before window 200
        _fold_windows(sdir, 1, states[:1])
        # replay of batch 1 re-delivers BOTH windows
        _fold_windows(sdir, 1, states)
        got = read_window_states(sdir)
        assert got[100].estimate("x") == 5  # not 10 — no double count
        assert got[200].estimate("y") == 2
        # a genuinely new batch folds normally
        _fold_windows(sdir, 2, states[:1])
        assert read_window_states(sdir)[100].estimate("x") == 10


class TestWindowedStream:
    def test_windowed_states_match_batch_windows(self, spark, tmp_path, sf001_dir):
        from cms_topn_spark.streaming.stream_agg import (
            read_window_states,
            windowed_sketch_stream,
        )

        src = str(tmp_path / "evw")
        events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
        events.select("ts", "event_type").write.parquet(src)
        stream = spark.readStream.schema("ts timestamp, event_type string").parquet(src)
        q = windowed_sketch_stream(
            stream,
            "ts",
            "event_type",
            str(tmp_path / "wstate"),
            str(tmp_path / "wckpt"),
            lambda: CmsTopn(5, update="linear"),
            window="1 day",
        )
        q.awaitTermination(120)
        states = read_window_states(str(tmp_path / "wstate"))
        exact = {
            int(r["w"]["start"].timestamp()): r["c"]
            for r in events.groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("event_type").alias("c"))
            .collect()
        }
        assert set(states) == set(exact)
        for w, sk in states.items():
            assert sk.total == exact[w]

    def test_windowed_null_rules_and_bigint_above_2_53(self, spark, tmp_path):
        """The aggregate NULL rules per window — NULL values skipped, a
        NULL-ts row dropped, an all-NULL window gets no state — and a
        NULL-bearing bigint above 2^53 counts exactly (no float64 detour)."""
        from cms_topn_spark.streaming.stream_agg import (
            read_window_states,
            windowed_sketch_stream,
        )

        big, day = (1 << 60) + 1, 86400
        rows = [
            (100 * day + 60, big),
            (100 * day + 120, None),
            (100 * day + 180, big),
            (100 * day + 240, 5),
            (101 * day + 60, None),  # every value NULL: no window state
            (101 * day + 120, None),
            (None, 7),  # no event time: no window
            (102 * day + 60, 5),
        ]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, "t long, v bigint").select(
            F.timestamp_seconds("t").alias("ts"), "v"
        ).write.parquet(src)
        stream = spark.readStream.schema("ts timestamp, v bigint").parquet(src)
        windowed_sketch_stream(
            stream, "ts", "v", str(tmp_path / "wstate"), str(tmp_path / "wckpt"),
            lambda: CmsTopn(3, update="linear"), window="1 day",
        ).awaitTermination(120)
        states = read_window_states(str(tmp_path / "wstate"))
        assert sorted(states) == [100 * day, 102 * day]
        assert states[100 * day].total == 3
        assert states[100 * day].topn_list() == [(big, 2), (5, 1)]
        assert states[102 * day].total == 1
        assert states[102 * day].topn_list() == [(5, 1)]

    def test_windowed_int_column_binds_native_type(self, spark, tmp_path, sf001_dir):
        """Streaming-built sketches over int columns must hash-compatibly
        match batch-built sketches (no astype(str) coercion)."""
        import numpy as np

        from cms_topn_spark.streaming.stream_agg import (
            read_window_states,
            windowed_sketch_stream,
        )

        src = str(tmp_path / "evi")
        events = spark.read.parquet(os.path.join(sf001_dir, "events.parquet"))
        events.select("ts", "user_id").write.parquet(src)
        stream = spark.readStream.schema("ts timestamp, user_id long").parquet(src)
        windowed_sketch_stream(
            stream,
            "ts",
            "user_id",
            str(tmp_path / "wstate"),
            str(tmp_path / "wckpt"),
            lambda: CmsTopn(5, 0.0001, 0.99, update="linear"),
            window="30 days",  # sf0.001 events span < 30 days → single window
        ).awaitTermination(120)
        states = read_window_states(str(tmp_path / "wstate"))
        assert len(states) >= 1
        merged = None
        for sk in states.values():
            merged = sk if merged is None else merged.merge(sk)
        batch = cms_topn_add_agg(events, "user_id", n=5, e=0.0001)
        # native int binding ⇒ identical counters, mergeable with batch states
        assert merged.item_type == batch.item_type
        assert np.array_equal(merged.counters, batch.counters)
        assert merged.estimate(int(events.first()["user_id"])) == batch.estimate(
            int(events.first()["user_id"])
        )


def test_stream_builds_reject_value_types_without_item_encoding(spark, tmp_path):
    """A boolean value column has no sketch item encoding, so both CMS
    stream builds raise on call, before any state or checkpoint exists —
    no stand-in string hashing a batch-built sketch could not merge with."""
    from cms_topn_spark.streaming.stream_agg import windowed_sketch_stream

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", True, 1)], "k string, b boolean, t long"
    ).select("k", "b", F.timestamp_seconds("t").alias("ts")).write.parquet(src)
    stream = spark.readStream.schema("k string, b boolean, ts timestamp").parquet(src)
    with pytest.raises(TypeError, match="no sketch item encoding"):
        keyed_sketch_stream(stream, "k", "b")
    state = str(tmp_path / "state")
    with pytest.raises(TypeError, match="no sketch item encoding"):
        windowed_sketch_stream(
            stream, "ts", "b", state, str(tmp_path / "ckpt"),
            lambda: CmsTopn(3, update="linear"),
        )
    assert not os.path.exists(state)


def test_typed_arrow_above_2_53_float64_raises():
    import pandas as pd
    import pytest as _pytest

    from cms_topn_spark.streaming.stream_agg import _typed_arrow

    big = float((1 << 60) + 1)  # already rounded by the float conversion
    with _pytest.raises(ValueError):
        _typed_arrow(pd.Series([big, 2.0]), "bigint")
    # small integral floats cast back exactly
    arr = _typed_arrow(pd.Series([7.0, 9.0]), "bigint")
    assert arr.to_pylist() == [7, 9]


def test_pre_frame_state_layout_gets_clear_error(tmp_path):
    from cms_topn_spark.core import SketchError
    from cms_topn_spark.streaming.stream_agg import _read_frame

    sk = CmsTopn(3, update="linear")
    sk.add_batch(["x"])
    p = str(tmp_path / "state.bin")
    with open(p, "wb") as f:
        f.write(sk.to_bytes())  # old layout: bare sketch bytes
    with pytest.raises(SketchError, match="pre-frame layout"):
        _read_frame(p)


def test_stream_interval_join_matches_batch_join(spark, sf001_dir):
    """The stream-stream watermarked interval join gate equals the batch
    inequality join, and the multi-trigger staging really produced matches
    (sf0.001 has a small but nonzero pair set)."""
    import duckdb

    import __spark_entry__ as entrymod

    got = sorted(
        tuple(r) for r in entrymod.q_stream_interval_join(spark, sf001_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf001_dir}/events.parquet'"
    )
    exp = sorted(
        tuple(r)
        for r in con.execute(
            entrymod._raw_oracle_sql()["stream_interval_join"]
        ).fetchall()
    )
    assert len(exp) > 0
    assert got == exp


class TestNearDupStream:
    def _run_stream(self, spark, src, index_root, ckpt):
        from cms_topn_spark.streaming.stream_agg import near_dup_stream

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = near_dup_stream(stream, index_root, ckpt, threshold=0.8)
        q.awaitTermination()

    def _pairs(self, spark, index_root):
        from cms_topn_spark.streaming.stream_agg import read_near_dup_pairs

        return {
            (r["a_id"], r["b_id"])
            for r in read_near_dup_pairs(spark, index_root).collect()
        }

    TEXT_A = "the quick brown fox jumps over the lazy dog again ok"

    def test_cross_batch_pairs_and_same_checkpoint_restart_noop(self, spark, tmp_path):
        """A dup pair split across micro-batches must be found from the
        persisted index; restarting the stream with the SAME checkpoint
        (Spark's restart contract) processes nothing new and changes
        nothing."""
        rows = [
            (0, self.TEXT_A),
            (1, "completely unrelated content about mergeable sketches"),
            (2, self.TEXT_A),          # dup of 0 — may land in another file
            (3, "another distinct document body with its own words"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        src = str(tmp_path / "in")
        docs.repartition("doc_id").write.parquet(src)
        index_root = str(tmp_path / "index")
        ckpt = str(tmp_path / "ckpt")
        self._run_stream(spark, src, index_root, ckpt)
        assert self._pairs(spark, index_root) == {(0, 2)}
        self._run_stream(spark, src, index_root, ckpt)  # restart: no new data
        assert self._pairs(spark, index_root) == {(0, 2)}

    def test_second_run_with_new_files_grows_index(self, spark, tmp_path):
        """The day-2 lifecycle (round-7 review finding): a NEW stream run —
        fresh checkpoint, new source files — feeding the SAME index must
        dedup the new docs against everything already indexed, not be
        mistaken for a replay of the first run's batch ids."""
        day1 = spark.createDataFrame(
            [(0, self.TEXT_A), (1, "some other unrelated day one body")],
            "doc_id long, text string",
        )
        day2 = spark.createDataFrame(
            [(10, self.TEXT_A), (11, "fresh day two content distinct words")],
            "doc_id long, text string",
        )
        index_root = str(tmp_path / "index")
        src1, src2 = str(tmp_path / "in1"), str(tmp_path / "in2")
        day1.repartition(2).write.parquet(src1)
        day2.repartition(2).write.parquet(src2)
        self._run_stream(spark, src1, index_root, str(tmp_path / "ckpt1"))
        assert self._pairs(spark, index_root) == set()
        self._run_stream(spark, src2, index_root, str(tmp_path / "ckpt2"))
        # doc 10 (day 2) must pair with doc 0 (day 1) through the index
        assert self._pairs(spark, index_root) == {(0, 10)}

    def test_read_pairs_before_any_run_is_empty(self, spark, tmp_path):
        from cms_topn_spark.streaming.stream_agg import read_near_dup_pairs

        out = read_near_dup_pairs(spark, str(tmp_path / "never_ran"))
        assert out.collect() == []

    def test_accumulated_pairs_equal_batch_operator(self, spark, tmp_path, sf001_dir):
        """Batching-invariance on the real fixture: the stream's accumulated
        pairs equal the one-shot full-corpus operator."""
        from cms_topn_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(os.path.join(sf001_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        src = str(tmp_path / "in")
        docs.repartition(3).write.parquet(src)
        index_root = str(tmp_path / "index")
        self._run_stream(spark, src, index_root, str(tmp_path / "ckpt"))
        got = self._pairs(spark, index_root)
        full = {
            (r["a_id"], r["b_id"]) for r in minhash_lsh_pairs(docs, 0.8).collect()
        }
        assert full, "fixture should contain near-dup pairs"
        assert got == full
