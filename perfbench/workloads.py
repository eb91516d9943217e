"""The four benchmark workloads.

Each workload generates its input from the seed (``prepare``, no Spark),
registers it in a session (``load``), runs one closed-loop pass of calls
into the library's public functions (``run_pass``), checks the last pass's
outputs against an exact oracle outside the timed window (``check``) and,
for a traced pass, turns spans and SQL metrics into per-layer metrics
(``layer_metrics``). Factories and ingest functions handed to the library
are the library's own, so no benchmark code ships to Spark's workers.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs
from telemetry import Tracer, median, op_sum, percentile

PY_TIME = "time to run Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
ROWS_OUT = "number of output rows"
SHUFFLE_BYTES = "shuffle bytes written"
CMS_DELTA = 0.01  # every CMS here is built at confidence p = 0.99


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory='{os.path.join(inputs.WORK, 'tmp', 'duckdb')}'")
    return con


def _one(tr: Tracer, name: str) -> dict:
    spans = tr.find(name)
    if not spans:
        raise RuntimeError(f"traced pass recorded no {name} span")
    return spans[-1]


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


def _pairs(tbl: pa.Table) -> list[tuple[int, int]]:
    return list(zip(tbl.column("a_id").to_pylist(), tbl.column("b_id").to_pylist()))


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.calls = 0  # library calls made, for attempted/failed accounting

    def prepare(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, tr: Tracer | None) -> int:
        """One pass; returns the input rows it processed."""
        raise NotImplementedError

    def check(self) -> list[checks.Outcome]:
        raise NotImplementedError

    def layer_metrics(self, tr: Tracer) -> dict:
        raise NotImplementedError

    def start_window(self) -> None:
        """Called before the measured passes."""

    def latencies(self) -> dict:
        """Latency figures recorded beside the metrics (not gated)."""
        return {}

    def close(self) -> None:
        pass

    def call(self, tr: Tracer | None, name: str, fn):
        """One library call, inside a span named after it when tracing."""
        self.calls += 1
        if tr is None:
            return fn()
        with tr.span(name):
            return fn()


# -------------------------------------------------------------- webpages


class WebpagesTopn(Workload):
    name = "webpages_topn"
    why = "the paper's headline job: one scan feeding URL/host/token CMS top-n and URL HLL"
    DOCS = 150_000
    EPS = 0.001  # flagship_factory's default
    HLL_P = 14

    def prepare(self):
        d, _ = inputs.materialize("webpages", self.seed, docs=self.DOCS, files=8)
        self.path = os.path.join(d, "pages")

    def load(self, spark):
        self.pages = spark.read.parquet(self.path)

    def run_pass(self, tr):
        from cms_topn_spark.plans.flagship import run_flagship

        self.last = self.call(tr, "plans.flagship.run_flagship", lambda: run_flagship(self.pages))
        return self.DOCS

    def check(self):
        sk = self.last
        con = _duck()
        con.execute(f"CREATE VIEW pages AS SELECT url, text FROM read_parquet('{self.path}/*.parquet')")
        out = []
        host = r"regexp_extract(url, '^[a-z]+://([^/]+)/', 1)"
        tokens = "SELECT unnest(string_split(text, ' ')) AS item FROM pages"
        for key, sql in (
            ("url_topn", "SELECT url AS item FROM pages"),
            ("host_topn", f"SELECT {host} AS item FROM pages"),
            ("token_topn", tokens),
        ):
            top = sk[key].topn_list()
            con.register("est", pa.table({"item": [t[0] for t in top], "f_hat": [t[1] for t in top]}))
            rows = con.execute(
                f"WITH src AS ({sql}) SELECT e.f_hat, count(s.item) FROM est e "
                "LEFT JOIN src s ON s.item = e.item GROUP BY e.item, e.f_hat"
            ).fetchall()
            total = con.execute(f"WITH src AS ({sql}) SELECT count(*) FROM src").fetchone()[0]
            con.unregister("est")
            f_hat, f = zip(*rows) if rows else ((), ())
            out.append(checks.frequency_bound(f"webpages.{key}", f_hat, f, self.EPS, total, CMS_DELTA))
        distinct = con.execute("SELECT count(DISTINCT url) FROM pages").fetchone()[0]
        out.append(checks.hll_bound("webpages.url_hll", sk["url_hll"].estimate(), distinct, self.HLL_P))
        return out

    def layer_metrics(self, tr):
        # the scan on its own: a noop write of the projection the job reads
        with tr.span("sources.scan") as scan:
            self.pages.select("url", "text").write.format("noop").mode("overwrite").save()
        ex = scan["executions"]
        fl = tr.executions(_one(tr, "plans.flagship.run_flagship"))
        return {
            "sources.scan_s": _wall(scan),
            "sources.scan_bytes": op_sum(ex, "Scan parquet", "size of files read"),
            "build.python_s": op_sum(fl, "MapInArrow", PY_TIME),
            "build.to_python_bytes": op_sum(fl, "MapInArrow", PY_IN),
            "build.state_bytes": op_sum(fl, "MapInArrow", PY_OUT),
            "build.partials": op_sum(fl, "MapInArrow", ROWS_OUT),
            "driver.collect_bytes": sum(e["stages"]["result_bytes"] for e in fl),
        }


# ----------------------------------------------------------- state merge


class StateMerge(Workload):
    name = "state_merge"
    why = "merge path: per-group CMS/KLL state fold, state exchange and a 512-state union"
    ROWS = 400_000
    GROUPS = 1_000
    TOPN, TOPN_EPS, KLL_K = 5, 0.01, 200
    STATES = 512

    def prepare(self):
        d, meta = inputs.materialize(
            "state_merge", self.seed, rows=self.ROWS, groups=self.GROUPS, items=10_000,
            states=self.STATES,
        )
        self.rows_path = os.path.join(d, "rows")
        self.states_path = os.path.join(d, "states")
        self.groups = meta["groups"]

    def load(self, spark):
        self.rows = spark.read.parquet(self.rows_path)
        self.states = spark.read.parquet(self.states_path)

    def run_pass(self, tr):
        from cms_topn_spark.functions.sketch_api import cms_topn_union_agg
        from cms_topn_spark.operators.grouped import grouped_quantiles, grouped_topn

        top = self.call(
            tr, "operators.grouped.grouped_topn",
            lambda: grouped_topn(self.rows, "g", "item", self.TOPN, e=self.TOPN_EPS).toArrow(),
        )
        qs = self.call(
            tr, "operators.grouped.grouped_quantiles",
            lambda: grouped_quantiles(self.rows, "g", "v", k=self.KLL_K).toArrow(),
        )
        union = self.call(
            tr, "functions.sketch_api.cms_topn_union_agg",
            lambda: cms_topn_union_agg(self.states, "state"),
        )
        self.last = (top, qs, union)
        return self.ROWS

    def check(self):
        from cms_topn_spark.core import merge_serialized

        top, qs, union = self.last
        con = _duck()
        con.execute(f"CREATE TABLE rows AS SELECT * FROM read_parquet('{self.rows_path}/*.parquet')")
        con.execute("CREATE TABLE sizes AS SELECT g, count(*) AS n FROM rows GROUP BY g")
        con.register("est", top)
        f_hat, f, n = zip(*con.execute(
            "SELECT e.frequency, count(r.g), any_value(z.n) FROM est e JOIN sizes z USING (g) "
            "LEFT JOIN rows r ON r.g = e.g AND r.item = e.item "
            "GROUP BY e.g, e.item, e.frequency"
        ).fetchall())
        out = [checks.frequency_bound("state_merge.grouped_topn", f_hat, f, self.TOPN_EPS, n, CMS_DELTA)]
        seen = con.execute("SELECT count(DISTINCT g) FROM est").fetchone()[0]
        if seen != self.groups:
            out.append(checks.Outcome("state_merge.grouped_topn.groups", [f"{seen} of {self.groups} groups"]))
        con.unregister("est")
        con.register("qs", qs)
        q, lo, hi, n = zip(*con.execute(
            "WITH e AS (UNPIVOT qs ON q25, q50, q75 INTO NAME qn VALUE est) "
            "SELECT CASE e.qn WHEN 'q25' THEN 0.25 WHEN 'q50' THEN 0.5 ELSE 0.75 END, "
            "count(*) FILTER (WHERE r.v < e.est), count(*) FILTER (WHERE r.v <= e.est), count(*) "
            "FROM e JOIN rows r ON r.g = e.g GROUP BY e.g, e.qn, e.est"
        ).fetchall())
        out.append(checks.kll_rank_bound("state_merge.grouped_quantiles", q, lo, hi, n, self.KLL_K))
        if len(set(qs.column("g").to_pylist())) != self.groups:
            out.append(checks.Outcome("state_merge.grouped_quantiles.groups", ["groups missing"]))
        st = pq.read_table(self.states_path).sort_by("id").column("state").to_pylist()
        fold = functools.reduce(merge_serialized, st, None)
        out.append(checks.same_bytes(
            "state_merge.union_agg_vs_driver_fold", union.to_bytes() if union else None, fold
        ))
        return out

    def layer_metrics(self, tr):
        grouped = tr.executions(_one(tr, "operators.grouped.grouped_topn")) + tr.executions(
            _one(tr, "operators.grouped.grouped_quantiles")
        )
        shipped = op_sum(grouped, "MapInArrow", ROWS_OUT)
        union = _one(tr, "functions.sketch_api.cms_topn_union_agg")
        ux = tr.executions(union)
        return {
            "grouped.stage1_python_s": op_sum(grouped, "MapInArrow", PY_TIME),
            "grouped.stage1_state_bytes": op_sum(grouped, "MapInArrow", PY_OUT),
            "grouped.states_shipped": shipped,
            "grouped.exchange_bytes": op_sum(grouped, "Exchange", SHUFFLE_BYTES),
            "grouped.stage2_python_s": op_sum(grouped, "MapInPandas", PY_TIME),
            # two grouped calls, each ideally ships one state per group
            "grouped.states_per_group": shipped / (2 * self.groups),
            "build.union_agg_s": _wall(union),
            "build.tree_levels": sum(
                1 for e in ux if any(o["op"].startswith("FlatMapGroupsInPandas") for o in e["ops"])
            ),
        }


# -------------------------------------------------------------- near dups


class NearDupDedup(Workload):
    name = "near_dup_dedup"
    why = "joins, exchanges and exact verify dominate: MinHash-LSH pairs and the incremental serve path"
    DOCS, BATCH = 3_000, 300
    THRESHOLD = 0.8

    def prepare(self):
        d, _ = inputs.materialize("near_dup", self.seed, docs=self.DOCS, batch=self.BATCH)
        self.corpus_path = os.path.join(d, "corpus")
        self.batch_path = os.path.join(d, "batch")
        self.sessions = 0

    def load(self, spark):
        from cms_topn_spark.operators.dedup import minhash_index_build

        self.sessions += 1
        self.corpus = spark.read.parquet(self.corpus_path)
        self.batch = spark.read.parquet(self.batch_path)
        self.index_dir = os.path.join(self.work, "near_dup", f"{os.getpid()}-{self.sessions}")
        shutil.rmtree(self.index_dir, ignore_errors=True)
        self.index = minhash_index_build(self.corpus, self.index_dir)

    def run_pass(self, tr):
        from cms_topn_spark.operators.dedup import incremental_near_dup, minhash_lsh_pairs

        pairs = self.call(
            tr, "operators.dedup.minhash_lsh_pairs",
            lambda: minhash_lsh_pairs(self.corpus, self.THRESHOLD).toArrow(),
        )
        inc = self.call(
            tr, "operators.dedup.incremental_near_dup",
            lambda: incremental_near_dup(
                self.batch, self.index, self.THRESHOLD, index_dir=self.index_dir
            ).toArrow(),
        )
        self.last = (pairs, inc)
        return self.DOCS + self.BATCH

    def close(self):
        if self.sessions:
            shutil.rmtree(self.index_dir, ignore_errors=True)

    def check(self):
        pairs, inc = self.last
        con = _duck()
        con.execute(
            "CREATE TABLE docs AS SELECT doc_id, text FROM read_parquet("
            f"['{self.corpus_path}/*.parquet', '{self.batch_path}/*.parquet'])"
        )
        # distinct 8-byte grams (ASCII text: bytes == characters)
        con.execute(
            "CREATE TABLE sh AS SELECT doc_id, unnest(list_distinct("
            "[text[i:i+7] for i in range(1, length(text) - 6)])) AS g FROM docs"
        )
        exact = con.execute(
            "WITH sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a "
            "JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT a_id, b_id FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id "
            f"WHERE i * 1.0 / (sa.n + sb.n - i) >= {self.THRESHOLD}"
        ).fetchall()
        full = [p for p in exact if p[1] < self.DOCS]
        touching = [p for p in exact if p[1] >= self.DOCS]  # b_id > a_id, so b is the batch side
        index_ids = pq.read_table(self.corpus_path, columns=["doc_id"]).column("doc_id").to_pylist()
        batch_ids = pq.read_table(self.batch_path, columns=["doc_id"]).column("doc_id").to_pylist()
        return [
            checks.same_pairs("near_dup.minhash_lsh_pairs", _pairs(pairs), full),
            checks.same_pairs("near_dup.incremental_near_dup", _pairs(inc), touching),
            checks.disjoint_ids("near_dup.batch_ids_disjoint_from_index", batch_ids, index_ids),
        ]

    def layer_metrics(self, tr):
        from cms_topn_spark.operators.dedup import minhash_doc_features

        with tr.span("operators.dedup.minhash_doc_features") as feats:
            minhash_doc_features(self.corpus).write.format("noop").mode("overwrite").save()
        lsh = tr.executions(_one(tr, "operators.dedup.minhash_lsh_pairs"))
        # the verify kernel is the plan's root-most MapInArrow; the first
        # row count below it is the candidate pairs left by the size filter
        candidates = 0.0
        for e in lsh:
            ops = e["ops"]
            top = next((i for i, o in enumerate(ops) if o["op"].startswith("MapInArrow")), None)
            if top is not None:
                candidates += next(
                    (o["metrics"][ROWS_OUT] for o in ops[top + 1 :] if ROWS_OUT in o["metrics"]), 0.0
                )
                break
        verified = float(self.last[0].num_rows)
        return {
            "dedup.features_s": _wall(feats),
            "dedup.python_s": op_sum(lsh, "MapInArrow", PY_TIME),
            "dedup.exchange_bytes": op_sum(lsh, "Exchange", SHUFFLE_BYTES)
            + op_sum(lsh, "BroadcastExchange", "data size"),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / candidates if candidates else 0.0,
            "dedup.incremental_s": _wall(_one(tr, "operators.dedup.incremental_near_dup")),
        }


# ---------------------------------------------------------------- stream


class StreamIngestProbe(Workload):
    name = "stream_ingest_probe"
    why = "closed loop, one client: stream one file per trigger into a CMS, then probe the committed state"
    FILES, ROWS_PER_FILE, ITEMS = 64, 20_000, 20_000
    PROBES_PER_COMMIT, PROBE_ITEMS = 5, 1_000
    EPS = 0.001

    def prepare(self):
        d, _ = inputs.materialize(
            "stream", self.seed, files=self.FILES, rows_per_file=self.ROWS_PER_FILE, items=self.ITEMS
        )
        self.files = sorted(glob.glob(os.path.join(d, "files", "*.parquet")))
        self.next_file = 0
        self.sessions = 0
        self.query = None

    def load(self, spark):
        from cms_topn_spark.core import CmsTopn
        from cms_topn_spark.streaming.stream_agg import sketch_stream_agg

        self.sessions += 1
        self.base = os.path.join(self.work, "stream", f"{os.getpid()}-{self.sessions}")
        shutil.rmtree(self.base, ignore_errors=True)
        self.src = os.path.join(self.base, "src")
        self.state_dir = os.path.join(self.base, "state")
        os.makedirs(self.src)
        stream_df = (
            spark.readStream.schema("item long").option("maxFilesPerTrigger", 1).parquet(self.src)
        )
        self.query = sketch_stream_agg(
            stream_df, functools.partial(CmsTopn, 20, self.EPS, 0.99), self.state_dir,
            os.path.join(self.base, "checkpoint"), trigger_available_now=False,
        )
        self.probe_df = spark.range(0, self.PROBE_ITEMS, 1, 1).withColumnRenamed("id", "item")
        self.committed: list[str] = []
        self.probes: list[tuple[int, np.ndarray]] = []
        self.commit_s: list[float] = []
        self.probe_s: list[float] = []

    def _commit(self, path: str) -> None:
        # hidden while copying: the file source skips dot-files
        tmp = os.path.join(self.src, "." + os.path.basename(path))
        shutil.copyfile(path, tmp)
        os.rename(tmp, os.path.join(self.src, os.path.basename(path)))
        self.query.processAllAvailable()

    def run_pass(self, tr):
        from cms_topn_spark.functions.sketch_api import frequency_udf
        from cms_topn_spark.streaming.stream_agg import read_stream_state

        if self.next_file >= len(self.files):
            raise RuntimeError("stream input exhausted; generate more files")
        path = self.files[self.next_file]
        self.next_file += 1
        t0 = time.perf_counter()
        self.call(tr, "streaming.stream_agg.sketch_stream_agg", lambda: self._commit(path))
        self.commit_s.append(time.perf_counter() - t0)
        self.committed.append(path)
        state = read_stream_state(self.state_dir).to_bytes()
        for _ in range(self.PROBES_PER_COMMIT):
            t0 = time.perf_counter()
            est = self.call(
                tr, "functions.sketch_api.frequency_udf",
                lambda: self.probe_df.select(frequency_udf(state)("item").alias("f")).toArrow(),
            )
            self.probe_s.append(time.perf_counter() - t0)
            self.probes.append((len(self.committed), est.column("f").to_numpy()))
        return self.ROWS_PER_FILE

    def start_window(self) -> None:
        self.commit_s.clear()
        self.probe_s.clear()

    def latencies(self) -> dict:
        """Commit and probe latency; p90 only once ten samples lie beyond it."""
        p50, n = percentile(self.probe_s, 50)
        out = {
            "batch_commit_p50_ms": median(self.commit_s) * 1e3,
            "commit_samples": len(self.commit_s),
            "probe_p50_ms": p50 * 1e3,
            "probe_samples": n,
        }
        if n >= 100:
            out["probe_p90_ms"] = percentile(self.probe_s, 90)[0] * 1e3
        return out

    def check(self):
        from cms_topn_spark.core import CmsTopn, merge_serialized
        from cms_topn_spark.operators.build import default_ingest
        from cms_topn_spark.streaming.stream_agg import read_stream_state

        # exact counts after each commit, for the probed items 0..PROBE_ITEMS-1
        cum, counts = [], np.zeros(self.ITEMS, dtype=np.int64)
        fold = None
        for path in self.committed:
            tbl = pq.read_table(path)
            counts += np.bincount(tbl.column("item").to_numpy(), minlength=self.ITEMS)
            cum.append(counts[: self.PROBE_ITEMS].copy())
            sk = CmsTopn(20, self.EPS, 0.99)
            for rb in tbl.to_batches(max_chunksize=65_536):
                default_ingest(sk, rb)
            fold = merge_serialized(fold, sk.to_bytes())
        # the probes after one commit read the same state, so they must
        # agree; the bound is then checked once per commit
        first: dict[int, np.ndarray] = {}
        disagree = []
        for n, e in self.probes:
            if n in first and not np.array_equal(first[n], e):
                disagree.append(f"probes after commit {n} disagree")
            first.setdefault(n, e)
        est = np.concatenate(list(first.values()))
        exact = np.concatenate([cum[n - 1] for n in first])
        total = np.concatenate([np.full(self.PROBE_ITEMS, n * self.ROWS_PER_FILE) for n in first])
        state = read_stream_state(self.state_dir)
        return [
            checks.Outcome("stream.probes_repeatable", disagree),
            checks.frequency_bound("stream.probe_frequency", est, exact, self.EPS, total, CMS_DELTA),
            checks.same_bytes("stream.state_vs_batch_fold", state.to_bytes() if state else None, fold),
        ]

    def layer_metrics(self, tr):
        from cms_topn_spark.streaming.stream_agg import STATE_FILE

        prog = [
            p for p in self.query.recentProgress if p.numInputRows and "addBatch" in p.durationMs
        ][-len(tr.find("streaming.stream_agg.sketch_stream_agg")):]
        add = [p.durationMs["addBatch"] for p in prog]
        over = [p.durationMs["triggerExecution"] - p.durationMs["addBatch"] for p in prog]
        probes = tr.find("functions.sketch_api.frequency_udf")
        lat = self.latencies()
        return {
            "stream.add_batch_ms": median(add),
            "stream.trigger_overhead_ms": median(over),
            "stream.state_bytes": os.path.getsize(os.path.join(self.state_dir, STATE_FILE)),
            "stream.commit_p50_ms": lat["batch_commit_p50_ms"],
            "probe.python_s": median(
                [op_sum(p.get("executions", []), "ArrowEvalPython", PY_TIME) for p in probes]
            ),
            "probe.p50_ms": lat["probe_p50_ms"],
        }

    def close(self):
        if self.query is not None:
            self.query.stop()
            self.query = None
            shutil.rmtree(self.base, ignore_errors=True)


WORKLOADS = {w.name: w for w in (WebpagesTopn, StateMerge, NearDupDedup, StreamIngestProbe)}
