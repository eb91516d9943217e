"""Webpages source determinism + extract_text invariant + checkpoint/resume."""

import numpy as np
from pyspark.sql import functions as F

from cms_topn_spark.core import CmsTopn, sketch_from_bytes
from cms_topn_spark.functions.sketch_api import cms_topn_add_agg
from cms_topn_spark.operators.build import build_partials, sketch_agg
from cms_topn_spark.plans.checkpoint import (
    has_checkpoint,
    lineage_summary,
    run_stage,
)
from cms_topn_spark.plans.flagship import flagship_factory, flagship_ingest
from cms_topn_spark.sources.webpages import extract_host, extract_text, generate_webpages


class TestWebpages:
    def test_schema(self, spark):
        df = generate_webpages(spark, 100, partitions=4)
        assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert types == {
            "url": "string",
            "warc_ts": "timestamp",
            "html": "binary",
            "text": "string",
            "lang": "string",
        }

    def test_deterministic_across_partitioning(self, spark):
        a = generate_webpages(spark, 500, partitions=2).orderBy("url").collect()
        b = generate_webpages(spark, 500, partitions=7).orderBy("url").collect()
        assert a == b

    def test_extract_text_byte_identical_per_url(self, spark):
        # the north-rule per-row invariant (BASELINE.json input_hint)
        df = generate_webpages(spark, 1000, partitions=4)
        bad = df.where(extract_text(F.col("html")) != F.col("text")).count()
        assert bad == 0
        # and byte-level: re-encode the extracted text, compare to the payload
        bad2 = df.where(
            F.encode(extract_text(F.col("html")), "UTF-8")
            != F.expr("substring(html, 16, length(html) - 33)")
        ).count()
        assert bad2 == 0

    def test_host_extraction_and_skew(self, spark):
        df = generate_webpages(spark, 2000, partitions=4)
        hosts = df.select(extract_host(F.col("url")).alias("h"))
        top = hosts.groupBy("h").count().orderBy(F.desc("count")).limit(3).collect()
        assert all(r["h"].startswith("host-") and r["h"].split(".")[1] == "example" for r in top)
        # Zipf: the top host should dominate
        assert top[0]["count"] > 2000 / 50

    def test_hostname_heavy_hitters_vs_exact(self, spark):
        df = generate_webpages(spark, 3000, partitions=8).select(
            extract_host(F.col("url")).alias("host")
        )
        sk = cms_topn_add_agg(df, "host", n=10, e=0.0001)
        exact = dict(
            (r["host"], r["c"])
            for r in df.groupBy("host").agg(F.count("*").alias("c")).collect()
        )
        for host, freq in sk.topn_list():
            assert exact[host] == freq


    def test_flagship_above_direct_collect_limit(self, spark):
        # the composite fold is layout-independent: any salt gives the
        # unsalted counters, top-n entries and HLL bytes. The URL and host
        # top-n hold every distinct item (~2000 URLs, 535 hosts): which of
        # the items tied near a smaller top-n's cut it retains depends on
        # the merge order, and the order of tied entries does too
        pages = generate_webpages(spark, 2000, partitions=4).select("url", "text")
        factory = flagship_factory(n_urls=4096, n_hosts=1024, n_tokens=5)
        whole = sketch_agg(pages, factory, flagship_ingest)
        for salt in (1, 3, 4, 8, 100):
            salted = sketch_agg(pages, factory, flagship_ingest, salt_partitions=salt)
            for name in ("url_topn", "host_topn", "token_topn"):
                assert np.array_equal(salted[name].counters, whole[name].counters), salt
                assert dict(salted[name].topn_list()) == dict(whole[name].topn_list()), salt
            assert salted["url_hll"].to_bytes() == whole["url_hll"].to_bytes(), salt


class TestCheckpoint:
    def test_checkpoint_resume(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        df = generate_webpages(spark, 1000, partitions=4).select(
            extract_host(F.col("url")).alias("host")
        )

        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return build_partials(df, lambda: CmsTopn(5, 0.001, 0.99, update="linear"))

        s1 = run_stage(spark, root, "partials", "run-1", build)
        assert has_checkpoint(spark, root, "partials")
        assert calls["n"] == 1
        # resume: build_fn must not run again
        s2 = run_stage(spark, root, "partials", "run-2", build)
        assert calls["n"] == 1
        # resumed states merge to the same sketch
        merge = lambda states: [
            bytes(r["state"]) for r in states.orderBy("partition_id").collect()
        ]
        assert merge(s1) == merge(s2)
        info = lineage_summary(s2)
        assert info["input_rows"] == 1000
        assert info["n_partials"] == 4
        assert set(s2.columns) >= {"partition_id", "state", "input_rows", "stage", "run_id"}

    def test_resumed_states_finish_identically(self, spark, tmp_path):
        root = str(tmp_path / "ckpt2")
        df = generate_webpages(spark, 800, partitions=4).select(
            extract_host(F.col("url")).alias("host")
        )
        build = lambda: build_partials(df, lambda: CmsTopn(3, update="linear"))
        states = run_stage(spark, root, "partials", "r", build)
        from cms_topn_spark.functions.sketch_api import cms_topn_union_agg

        resumed = cms_topn_union_agg(states, "state")
        direct = cms_topn_add_agg(df, "host", n=3)
        assert resumed.topn_list() == direct.topn_list()
        assert np.array_equal(resumed.counters, direct.counters)


def test_iceberg_runtime_detection_falls_back_to_parquet(spark):
    """No iceberg-spark-runtime jar in this sandbox: detection must return
    None (not raise) and the checkpoint path must be the Parquet stand-in."""
    from cms_topn_spark.plans import checkpoint as cp

    assert cp.iceberg_catalog(spark) is None
